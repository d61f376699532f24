package graft.tools

import graft.sources.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Child-JVM worker for the CROSS-PROCESS commit race test
  * (SnapshotSuite): performs `n` optimistic commits against `table`,
  * each tagging its manifest meta with `<id>-<seq>`, retrying lost
  * races. The test asserts every tag landed exactly once and the
  * version chain is contiguous — which only holds if the commit point
  * is atomic ACROSS JVMs (the [[SnapshotTable.LockFileCatalog]]
  * property; a bare exists+rename loses commits here).
  */
object CommitWorker {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CommitWorker <table> <n> <id>")
    val Array(table, nStr, id) = args
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val schema = StructType(Seq(StructField("x", LongType)))
    (1 to nStr.toInt).foreach { i =>
      SnapshotTable.withCommitRetry(maxAttempts = 200) {
        val cur = SnapshotTable.currentVersion(spark, table)
        val files =
          if (cur == 0) Nil
          else SnapshotTable.readManifest(spark, table, cur).files
        SnapshotTable.commitManifest(spark, table,
          SnapshotTable.Snapshot(cur, schema, files, Map("w" -> s"$id-$i")),
          cur)
      }
    }
    spark.stop()
    // the parent greps for this marker to distinguish success from a
    // JVM that died after partial work
    println(s"COMMIT_WORKER_DONE $id")
  }
}
