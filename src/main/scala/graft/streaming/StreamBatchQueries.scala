package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** §2.9 batch twins of the streaming aggregations. The same groupBy(
  * window(...)) expressions run under readStream in StreamingJobs; these
  * batch versions are oracle-checked against DuckDB's time_bucket, and
  * the ScalaTest streaming specs assert stream-result == batch-twin.
  */
object StreamBatchQueries {

  val queries: Map[String, Q] = Map(
    "stream_tumbling_batch" -> ((s, dir) =>
      StreamingJobs.hourlyUserTotals(Tables.events(s, dir))
        .orderBy(col("user_id"), col("win_start"))),

    "stream_sliding_batch" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("window.start").as("win_start"), col("n"))
        .orderBy(col("user_id"), col("win_start"))
    })
  )

  val oracle: Map[String, String] = Map(
    "stream_tumbling_batch" ->
      """SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin,

    "stream_sliding_batch" ->
      """SELECT user_id,
        |  time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS win_start,
        |  count(*) AS n
        |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
        |GROUP BY user_id, win_start
        |ORDER BY user_id, win_start""".stripMargin
  )
}
