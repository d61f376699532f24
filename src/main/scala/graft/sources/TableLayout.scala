package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A snapshot table's PHYSICAL LAYOUT, declared once in manifest meta
  * and followed by every writer and reader: partition transforms (each
  * file carries the label tuple its rows derive), an optional bucket
  * spec (every batch hash-repartitions into `numBuckets` bucket-tagged
  * files), and an optional cluster key (staged batches sort on it,
  * compaction re-clusters on it). This is the only code that parses or
  * renders the layout keys of manifest meta and the partition labels
  * of staged files.
  *
  * Meta encoding (one line per key, comma lists percent-encoded
  * except `clusterCols`):
  * {{{
  *   partitionCol=<c>            one identity column, unbucketed
  *                               (labels are the raw value)
  *   partitionCols=<c,...>       every other partitioned layout (labels
  *                               are the percent-encoded values joined
  *                               by ',')
  *   partitionSpec=<t,...>       present iff some item is a transform
  *                               (days(ts), bucket(n,c), ...)
  *   bucketCols=<c,...> bucketN=<n> [bucketSort=<c,...>]
  *   clusterCols=<c,...>
  * }}}
  * Tables written before `bucketCols` carry a bare `bucketCol=<c>`;
  * it still reads.
  *
  * `bareKey` records that the table uses the `partitionCol` key and raw
  * labels. It is decoded as stored, so a table's existing labels keep
  * reading the way they were written; a layout whose partitions or
  * buckets change re-derives it (every file restages then).
  */
private[graft] final case class TableLayout(
    partitions: Seq[PartitionTransform] = Nil,
    buckets: Option[BucketSpec] = None,
    cluster: Seq[String] = Nil,
    bareKey: Boolean = false) {
  import TableLayout._

  /** The partition SOURCE columns, aligned with [[partitions]]. */
  def partitionCols: Seq[String] = partitions.map(_.source)

  def identitySources: Seq[String] =
    partitions.filter(_.isIdentity).map(_.source)

  /** Does the layout decide which file each row lands in? */
  def placesRows: Boolean = partitions.nonEmpty || buckets.isDefined

  def withPartitions(ps: Seq[PartitionTransform]): TableLayout =
    copy(partitions = ps).keyed

  def withBuckets(b: Option[BucketSpec]): TableLayout =
    copy(buckets = b).keyed

  /** The single rule for the bare `partitionCol` key: one identity
    * column and no buckets.
    */
  private def keyed: TableLayout = copy(bareKey = partitions.size == 1 &&
    partitions.head.isIdentity && buckets.isEmpty)

  def renamed(from: String, to: String): TableLayout = {
    def r(c: String) = if (c == from) to else c
    copy(
      partitions = partitions.map(t =>
        if (t.source == from) t.withSource(to) else t),
      buckets = buckets.map(b => BucketSpec(b.numBuckets,
        b.bucketColumnNames.map(r), b.sortColumnNames.map(r))),
      cluster = cluster.map(r))
  }

  /** The layout's manifest meta entries. */
  def meta: Map[String, String] = {
    def list(cs: Seq[String]) = cs.map(enc).mkString(",")
    val part =
      if (partitions.isEmpty) Nil
      else if (bareKey) Seq("partitionCol" -> partitions.head.source)
      else ("partitionCols" -> list(partitionCols)) +:
        (if (partitions.forall(_.isIdentity)) Nil
         else Seq("partitionSpec" -> list(partitions.map(_.spec))))
    val bucket = buckets.toSeq.flatMap(b =>
      Seq("bucketCols" -> list(b.bucketColumnNames),
        "bucketN" -> b.numBuckets.toString) ++
        (if (b.sortColumnNames.isEmpty) Nil
         else Seq("bucketSort" -> list(b.sortColumnNames))))
    val clustered =
      if (cluster.isEmpty) Nil else Seq("clusterCols" -> cluster.mkString(","))
    (part ++ bucket ++ clustered).toMap
  }

  /** `meta` with its layout entries replaced by this layout's. */
  def into(meta: Map[String, String]): Map[String, String] =
    meta -- MetaKeys ++ this.meta

  /** A file label's per-partition values, aligned with [[partitions]]. */
  def valuesOf(label: String): Seq[String] =
    if (bareKey) Seq(label) else label.split(",", -1).map(dec).toSeq

  /** The staging write's `partitionBy` columns, one per partition. */
  def partNames: Seq[String] = partitions.indices.map(i => s"__part$i")

  /** `df` with its `__part<i>` label columns, arranged for the staging
    * write so every task writes ONE file per (partition dir, bucket):
    *  - bucketed: hash-repartition into exactly `numBuckets` tasks
    *    (Spark's HashPartitioning, the murmur3 bucketing `bucketBy`
    *    uses), sorting each task by (labels, cluster key or bucket
    *    sort) after the shuffle, which a pre-shuffle sort would not
    *    survive — the writer's required ordering, so it inserts no
    *    second sort; the task index IS the bucket id, and
    *    rows of one key share it in EVERY partition dir, so any
    *    partition-pruned file subset still groups by bucket id;
    *  - partitioned: hash on the labels (one file per label tuple), or,
    *    when clustered, RANGE on (labels, cluster key) so a partition
    *    gets one file per key slice with tight min/max;
    *  - unpartitioned: a within-task sort on the cluster key (no
    *    shuffle), or the frame as it is.
    */
  def arranged(df: DataFrame): DataFrame = {
    val labeled = partitions.zip(partNames).foldLeft(df) {
      case (acc, (t, p)) => acc.withColumn(p, t.labelCol(quoted(t.source)))
    }
    val parts = partNames.map(col)
    val clusterSort = cluster.map(quoted)
    buckets match {
      case Some(b) =>
        val within = parts ++ (if (clusterSort.nonEmpty) clusterSort
          else b.sortColumnNames.map(quoted))
        val hashed = labeled.repartition(b.numBuckets,
          b.bucketColumnNames.map(quoted): _*)
        if (within.isEmpty) hashed else hashed.sortWithinPartitions(within: _*)
      case None if parts.isEmpty =>
        if (clusterSort.isEmpty) labeled
        else labeled.sortWithinPartitions(clusterSort: _*)
      case None if clusterSort.isEmpty => labeled.repartition(parts: _*)
      case None => labeled
        .repartitionByRange(parts ++ clusterSort: _*)
        .sortWithinPartitions(parts ++ clusterSort: _*)
    }
  }

  /** The label of a freshly staged file, read back from its
    * `__part<i>=<value>` directories (table-relative path); None on an
    * unpartitioned layout. Null values carry Hive's default-partition
    * token.
    */
  def labelOf(rel: String): Option[String] =
    if (partitions.isEmpty) None
    else {
      val vals = rel.split('/').toSeq.drop(2).init.map(d =>
        unescapePartValue(d.substring(d.indexOf('=') + 1)))
      Some(if (bareKey) vals.head else vals.map(enc).mkString(","))
    }
}

private[graft] object TableLayout {

  val Plain: TableLayout = TableLayout()

  /** Every meta key a layout owns (cherry-pick compares them). */
  val MetaKeys: Seq[String] = Seq("partitionCol", "partitionCols",
    "partitionSpec", "bucketCol", "bucketCols", "bucketN", "bucketSort",
    "clusterCols")

  def of(snap: SnapshotTable.Snapshot): TableLayout =
    of(snap.meta, snap.schema)

  def of(meta: Map[String, String], schema: StructType): TableLayout = {
    def list(k: String): Option[Seq[String]] =
      meta.get(k).map(_.split(',').filter(_.nonEmpty).map(dec).toSeq)
    val spec = list("partitionSpec").getOrElse(Nil)
      .map(PartitionTransforms.parseOne(_, schema))
    val identity = list("partitionCols")
      .getOrElse(meta.get("partitionCol").toSeq)
      .map(PartitionTransforms.PIdentity)
    val buckets = for {
      cs <- list("bucketCols").orElse(meta.get("bucketCol").map(Seq(_)))
      n <- meta.get("bucketN")
    } yield BucketSpec(n.toInt, cs, list("bucketSort").getOrElse(Nil))
    TableLayout(if (spec.nonEmpty) spec else identity, buckets,
      meta.get("clusterCols").toSeq.flatMap(_.split(',').filter(_.nonEmpty)),
      bareKey = !meta.contains("partitionCols") &&
        meta.contains("partitionCol"))
  }

  /** A layout declared by a create verb, validated against `schema`:
    * partition items parse as columns or transforms, every bucket,
    * bucket-sort and cluster column exists, the bucket count is in
    * range, and no column is both a bucket and an identity partition
    * column. Failures throw IllegalArgumentException before anything
    * is staged.
    */
  def declare(schema: StructType, partitionBy: Seq[String] = Nil,
      bucketCols: Seq[String] = Nil, numBuckets: Int = 0,
      bucketSort: Seq[String] = Nil,
      cluster: Seq[String] = Nil): TableLayout = {
    val transforms = PartitionTransforms.parse(partitionBy, schema)
    (bucketCols ++ bucketSort ++ cluster).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"layout column $c is not a table column " +
          s"(${schema.fieldNames.mkString(", ")})"))
    val buckets =
      if (bucketCols.isEmpty && numBuckets == 0) None
      else {
        require(bucketCols.nonEmpty, "bucketed layout needs bucket columns")
        require(numBuckets > 0 && numBuckets <= 100000,
          s"numBuckets must be in [1, 100000], got $numBuckets")
        transforms.foreach(t => require(!t.isIdentity ||
          !bucketCols.contains(t.source),
          s"${t.source} cannot be both a bucket column and an identity " +
            "partition column"))
        Some(BucketSpec(numBuckets, bucketCols, bucketSort))
      }
    TableLayout(cluster = cluster).withBuckets(buckets)
      .withPartitions(transforms)
  }

  /** `part-NNNNN-…` → `…_NNNNN.parquet`: the task-partition index IS
    * the bucket id (HashPartitioning's pmod(murmur3, n)), re-rendered
    * in the `_NNNNN` suffix form `BucketingUtils.getBucketId` parses.
    */
  def bucketTagged(n: String): String = {
    val idx = n.substring(5, 10).toInt // part-NNNNN-…
    val dot = n.indexOf('.')
    val (stem, ext) =
      if (dot < 0) (n, "") else (n.substring(0, dot), n.substring(dot))
    f"${stem}_$idx%05d$ext"
  }

  /** Hive-style partition-dir / URI unescape: ONLY %xx sequences
    * decode. Spark's escapePathName never writes '+' for a space, so
    * URLDecoder — which maps '+' -> ' ' — would corrupt any label
    * containing a literal '+', silently breaking partition pruning for
    * that value. Runs of CONSECUTIVE %xx escapes decode as one UTF-8
    * byte sequence, not char-by-char: URI rendering encodes a
    * multi-byte code point as adjacent escapes (`é` -> `%C3%A9`), and
    * per-escape toChar decoding would yield mojibake whose key never
    * matches the raw manifest path — UPDATE/DELETE/MERGE would then
    * silently skip those files' rows. ASCII escapes (the only kind
    * escapePathName emits) are a one-byte run, so both callers share
    * this decoder.
    */
  private[sources] def unescapePartValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    val run = new java.io.ByteArrayOutputStream(8)
    var i = 0
    def flushRun(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      run.reset()
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        run.write(Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16))
        i += 3
      } else { flushRun(); sb.append(c); i += 1 }
    }
    flushRun()
    sb.result()
  }

  private def quoted(c: String): Column = col(s"`$c`")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
}
