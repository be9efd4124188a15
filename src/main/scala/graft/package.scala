package object graft {
  /** Contract type for every declared query: (session, sfDir) => result. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Delete `p` and everything under it, children first; no-op when `p`
    * does not exist. The directory walk is closed before returning.
    */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
}
