package graft.perfbench

import org.apache.spark.sql.DataFrame

/** Small local-filesystem helpers for the storage metrics. */
object Files {
  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists) graft.StagePaths.rmTree(f)
  }

  /** Every regular file under `path` with its size in bytes. */
  def list(path: String): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> f.length
    walk(new java.io.File(path))
    out.result()
  }

  /** Bytes of `df` written once as one plain parquet file. */
  def plainBytes(df: DataFrame, dir: String): Double = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    list(dir).collect { case (p, n) if p.endsWith(".parquet") => n }.sum.toDouble
  }
}
