package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Small shared helpers for the harness entrypoints and operator catalog. */
object Out {

  /** Terminal result ordering, applied only when `graft.sort.results` is
    * true (the default, used by [[Verify]] for deterministic cross-engine
    * dumps). [[Bench]] disables it: a global ORDER BY of a fact-sized
    * result is a total sort of the table — at 100 TB that single stage
    * dominates the query, and no consumer of the engine needs globally
    * sorted output (the reference UIs sort client-side).
    */
  def sorted(df: DataFrame)(cols: Column*): DataFrame =
    if (df.sparkSession.conf.get("graft.sort.results", "true").toBoolean)
      df.orderBy(cols: _*)
    else df

  /** Eagerly materialize a (small) result so cached intermediates can be
    * released before returning — the library-hygiene contract for
    * operators that persist() working frames: callers get a frame backed
    * by its own blocks, and the big intermediate cache entries are gone
    * (`cacheManager` empty) the moment the builder returns. At warehouse
    * scale the same role is played by writing the result to a table; the
    * checkpoint blocks themselves are reclaimed by the ContextCleaner
    * when the returned frame is dereferenced.
    */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** Per-corpus scratch locations under the JVM tmpdir:
  * `graft_<name>_<digest>`. Fixed per (tmpdir, corpus dir, name), so
  * repeated verify/bench runs reuse one location instead of leaking a
  * copy per call. Index paths built here appear in plan dumps, so the
  * rule must not change.
  */
object Scratch {

  /** The corpus key: the first 4 bytes of MD5(corpus dir) in hex. Also
    * suffixes the per-corpus warehouse table names.
    */
  def digest(corpus: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpus.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  def dir(corpus: String, name: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${digest(corpus)}").toString

  /** [[dir]], wiped first: the working root of a run that rebuilds
    * everything under it.
    */
  def fresh(spark: SparkSession, corpus: String, name: String): String = {
    val d = dir(corpus, name)
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }
}

/** Minimal JSON string escaping shared by Bench/Verify output writers.
  * Escapes backslash, quote and ALL control chars (<0x20) — a tab or CR
  * in builder-authored SQL or an exception message would otherwise break
  * the driver's json.load.
  */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
