package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory (Bench, Verify and the test
  * suites): UTC session time zone, UI off, shuffle partitions equal to
  * the core count, a 4096-class codegen cache, and local files created
  * without a subprocess.
  *
  * Hadoop's stock `file:` FileSystem forks a `chmod` for every file and
  * directory it creates, and its `FileContext` (the streaming checkpoint
  * log) a `readlink` per rename as well; the context's Hadoop conf names
  * [[graft.store.NioLocalFileSystem]] for both APIs instead
  * ([[graft.store.NioLocalFileSystem.Conf]], which also turns the `file:`
  * cache off, so the key holds even when something in the JVM asked for
  * `file:` before this session existed). */
object Session {
  def local(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the Janino compile cache defaults to 100 classes; a 100+-query
      // suite evicts EVERY query's codegen units between rounds, so each
      // measured run re-pays ~50-150 ms of compilation — that thrash was
      // ~30% of suite wall time (measured 36.9 s → 25.6 s back-to-back).
      // Static conf: must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    graft.store.NioLocalFileSystem.Conf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    b.getOrCreate()
  }
}
