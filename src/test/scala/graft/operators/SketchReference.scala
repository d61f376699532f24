package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two-shuffle MinHash sketch of a `(doc_id, text)` frame: trigram
  * rows (`DedupOps.shingleRowsOf`, one `distinct`), then one aggregation
  * per doc that folds the 32 affine minimums and collects the set. It
  * is the reference the index's row form ([[MinHashIndex.sketchOf]])
  * must reproduce: `(doc_id, band, sh, kind)` rows, 16 band rows and one
  * set row per doc with at least 3 tokens.
  */
object SketchReference {
  /** The md5-prefix 32-bit halves packed into one signed long, in SQL. */
  private def portableHash64(g: Column): Column = {
    val m = md5(g)
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  def sketchOf(docs: DataFrame): DataFrame = {
    import graft.functions.AffineHash.affine_hash
    val mins = DedupOps.minhashPerms.map { case (a, b) =>
      min(affine_hash(col("h"), a, b)) }
    DedupOps.shingleRowsOf(docs)
      .select(col("doc_id"), col("g"), portableHash64(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(array(mins: _*).as("sig"), collect_list(col("g")).as("sh"))
      .select(col("doc_id"), explode(concat(
        expr("transform(sequence(0, 15), b -> named_struct(" +
          "'band', concat(b, ':', sig[2*b], ':', sig[2*b+1]), " +
          "'sh', CAST(NULL AS ARRAY<STRING>), 'kind', 'b'))"),
        array(struct(concat(lit("s:"), col("doc_id")).as("band"),
          col("sh").as("sh"), lit("s").as("kind"))))).as("r"))
      .select(col("doc_id"), col("r.band").as("band"), col("r.sh").as("sh"),
        col("r.kind").as("kind"))
  }
}
