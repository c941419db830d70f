package graft.operators

import graft.functions.TextKernels.hex32
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout planning operators — the table-maintenance jobs an
  * Iceberg-backed 100 TB corpus runs continuously (the north rule's
  * storage layer): small-file compaction planning, Z-order clustering
  * with a data-skipping audit, and the two-pass distributed training
  * shuffle. All three are pure metadata/layout math over the same tables
  * the rest of the catalog reads, so every plan row is oracle-checkable.
  *
  *  - **Compaction planning** (à la Iceberg `rewrite_data_files` binpack):
  *    the file inventory is derived deterministically from `orders`
  *    (file per order, size from the price column, table-partition from
  *    o_orderpriority). Only small files qualify; qualifying files
  *    bin-pack per partition by the concat-and-cut rule (bin boundary
  *    every TargetKb of cumulative size, the same discipline as
  *    text_shard_pack). Scale shape: one window pass PER TABLE PARTITION
  *    (at 100 TB: thousands of date partitions, each with a bounded file
  *    list — the window key is the parallel unit), and the output is
  *    plan metadata (bins), never data. The rewrite itself would be a
  *    partition-pruned scan per bin.
  *
  *  - **Z-order layout audit**: Morton-interleave (user_id, time-bucket)
  *    into a 32-bit z-value via the classic shift-and-mask bit spread
  *    (Morton 1966; the Delta/Iceberg OPTIMIZE ZORDER key), assign each
  *    row to one of 64 fixed-width z-ranges ("files"), collect per-file
  *    min/max zone maps for BOTH dimensions, and simulate a box query's
  *    file pruning against the layout an event log ships with — files in
  *    ingestion (time) order — at the same file count: time-linear files
  *    prune only on the time dimension, so a user-selective box query
  *    scans every in-window file, while z-order prunes on both. Scale shape: zero sorts — fixed z-ranges make file
  *    assignment a stateless map (at a real write you'd
  *    repartitionByRange on z; the audit's zone-map math is identical),
  *    and the aggregate shuffles 2×64 stat rows regardless of input.
  *
  *  - **Two-pass global shuffle**: the canonical way a training pipeline
  *    materializes a deterministic random order over 10^12 docs without
  *    a single-partition sort: salt-hash every doc_id to a position key,
  *    range-bucket the key space, count per bucket (pass 1, a 64-row
  *    aggregate), prefix-sum the counts into bucket offsets (64-row
  *    window — the only "global" object, broadcast back), then
  *    global_pos = bucket_offset + intra-bucket rank (pass 2, a window
  *    keyed by bucket). The oracle proves two-pass == the naive global
  *    `row_number() OVER (ORDER BY key)` exactly.
  */
object Layout {

  /** compaction: files at least this size (KB) are left alone */
  val SmallKb = 40000L
  /** compaction: target output-file size (KB) */
  val TargetKb = 200000L

  /** z-order: 16 bits per dimension, 64 output files */
  val ZFiles = 64
  /** z audit's probe box: a narrow user slice × a time slice */
  val BoxXLo = 1000L; val BoxXHi = 1999L
  val BoxYLo = 8192L; val BoxYHi = 24575L

  /** shuffle: range buckets over the 32-bit position-key space */
  val ShufBuckets = 64
  val ShufSalt    = "shuf-v1"

  /** snapshot expiration: days of snapshot history to retain */
  val RetainDays = 365L

  /** rendezvous sharding: shard count before the grow step (after = +1) */
  val RdvShards = 16L

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Morton bit-spread: 16-bit value -> even bit positions of 32 bits.
    * floor() on the input keeps the cross-engine contract integer-only. */
  private def spread16(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit values; x occupies the even bits. */
  private[graft] def mortonZ(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** The z-audit's point set. x = the user's shard slot: user_id times a
    * fixed odd multiplier mod 2^16 (gcd(431, 2^16) = 1, so it permutes —
    * the id-to-shard spread a clustered write would apply to a dense id
    * space). y = 40-second time bucket since the table epoch
    * (2024-01-01), sized so the corpus's 30-day window fills the 16-bit
    * grid without wrapping. */
  private val EpochUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private def zPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      pmod(col("user_id") * 431L, lit(65536L)).as("x"),
      pmod(expr(s"(unix_micros(CAST(ts AS TIMESTAMP)) - $EpochUs) DIV 40000000"),
        lit(65536L)).as("y"))

  private def zStats(pts: DataFrame, layout: String, fileOf: Column): DataFrame =
    pts.groupBy(fileOf.as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .withColumn("layout", lit(layout))
      .withColumn("scanned",
        col("min_x") <= BoxXHi && col("max_x") >= BoxXLo &&
          col("min_y") <= BoxYHi && col("max_y") >= BoxYLo)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Iceberg-style binpack compaction plan over a derived file inventory.
    "q_compaction_plan" -> ((s, dir) => {
      val inv = t(s, dir, "orders").select(
        col("o_orderkey").as("file_id"),
        col("o_orderpriority").as("part"),
        floor(col("o_totalprice")).cast("long").as("size_kb"))
      val cand = inv.filter(col("size_kb") < SmallKb)
      val w = Window.partitionBy(col("part")).orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cand
        .withColumn("cum_kb", sum(col("size_kb")).over(w))
        .withColumn("bin_id", expr(s"(cum_kb - size_kb) DIV $TargetKb"))
        .groupBy(col("part"), col("bin_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("size_kb")).as("kb_in"),
          min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
        .filter(col("n_files") > 1) // a 1-file bin is a no-op rewrite
    }),

    // Z-order vs linear layout: per-file zone maps + box-query pruning.
    "q_zorder_layout" -> ((s, dir) => {
      val pts = zPoints(s, dir).withColumn("z", mortonZ(col("x"), col("y")))
      val zf  = zStats(pts, "zorder", expr(s"z DIV ${(1L << 32) / ZFiles}"))
      // the baseline an event log ships with: files in ingestion (time) order
      val lf  = zStats(pts, "linear", expr(s"y DIV ${65536L / ZFiles}"))
      zf.unionByName(lf)
        .select(col("layout"), col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"), col("scanned"))
    }),

    // Snapshot-expiration planning — the third leg of the Iceberg
    // maintenance triad (compact / recluster / expire): which data files
    // does dropping snapshots older than the retention window actually
    // free? The file log derives deterministically from `orders`: every
    // file is added on its order day; 'F' (rewritten) files are removed
    // (o_orderkey % 20) + 1 days later; a snapshot on day s references
    // the files with added <= s < removed. Expiring snapshots before
    // cutoff = head - RetainDays frees exactly the files whose removal
    // predates the cutoff ("expirable"); removed-but-referenced files
    // stay ("retained"); never-removed files are "live". Scale shape: one
    // scan + a broadcast 1-row head aggregate — the plan is metadata
    // math, no shuffle wider than the scalar. At a real 100 TB table this
    // runs over the manifest-file table (millions of rows), not the data.
    "q_snapshot_expire" -> ((s, dir) => {
      val inv = t(s, dir, "orders").select(
        col("o_orderkey").as("file_id"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("added_day"),
        when(col("o_orderstatus") === "F",
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000") +
            pmod(col("o_orderkey"), lit(20L)) + 1L).as("removed_day"),
        floor(col("o_totalprice")).cast("long").as("size_kb"))
      // max() skips nulls in both engines; greatest() does not — keep the
      // null handling inside the aggregates
      val head = inv.agg(greatest(max(col("added_day")),
          coalesce(max(col("removed_day")), lit(0L))).as("head_day"))
        .select(col("head_day"), (col("head_day") - RetainDays).as("cutoff_day"))
      inv.join(broadcast(head))
        .withColumn("status",
          when(col("removed_day").isNull, "live")
            .when(col("removed_day") <= col("cutoff_day"), "expirable")
            .otherwise("retained"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_files"), sum(col("size_kb")).as("kb"),
          min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
    }),

    // Rendezvous (highest-random-weight) hashing churn audit (Thaler &
    // Ravishankar 1998, the consistent-placement rule behind Iceberg/
    // Kafka-style shard growth): doc d lives on argmax over shards s of
    // h(d, s). THE theorem that makes it the right sharding function:
    // growing 16 → 17 shards can only move a doc TO the new shard
    // (argmax over a superset either stays or lands on the added
    // element), so expected churn is N/17, not the (16/17)·N a naive
    // mod-16 → mod-17 resharding pays. Both placements and the moved
    // flag are emitted per doc; the theorem and the churn band are
    // asserted in LayoutSpec, and the whole audit is one md5 pass per
    // (doc, shard) — the assignment at 10^12 docs is a stateless
    // map-only job (groupBy doc_id is a partial-agg of 17 rows that
    // collapses map-side; nothing but (id, 2 longs) shuffles).
    // Shard-balance audit — the skew dashboard number for any host-/
    // key-partitioned layout: exact integer Gini over per-host document
    // counts (Gini·10⁶ = ((2·Σ rank·c − (n+1)·Σc)·10⁶) div (n·Σc) on
    // counts sorted ascending with host tie-break), plus the min/max/
    // imbalance-ratio extremes an operator alarms on. Scale shape: the
    // corpus pass is ONE partial-agg count per host; the Gini math runs
    // on the shard-count frame (one row per shard — window over ~|hosts|
    // rows, broadcast-sized by definition), and the final reduce is a
    // single-row agg.
    "q_shard_balance" -> ((s, dir) => {
      val c = t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c"), col("source"))
      c.withColumn("rank", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_shards"),
          sum(col("c")).as("n_docs"),
          min(col("c")).as("min_docs"), max(col("c")).as("max_docs"),
          sum(col("rank") * col("c")).as("rc"))
        .withColumn("gini_ppm",
          expr("((2 * rc - (n_shards + 1) * n_docs) * 1000000) " +
            "div (n_shards * n_docs)"))
        .withColumn("imbalance_ppm", expr("(max_docs * 1000000) div min_docs"))
        .drop("rc")
    }),

    "q_rendezvous_shards" -> ((s, dir) => {
      val w = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("s", explode(sequence(lit(0L), lit(RdvShards))))
        .withColumn("h", hex32(concat(col("doc_id"), lit("#"), col("s"))))
      // argmax via struct-max: (h, −s) orders by weight, ties to the
      // smallest shard — the same total order the oracle's window uses
      w.groupBy(col("doc_id")).agg(
          max(when(col("s") < RdvShards,
            struct(col("h"), (col("s") * -1L).as("ns")))).as("b16"),
          max(struct(col("h"), (col("s") * -1L).as("ns"))).as("b17"))
        .select(col("doc_id"),
          (col("b16.ns") * -1L).as("shard_before"),
          (col("b17.ns") * -1L).as("shard_after"))
        .withColumn("moved", col("shard_before") =!= col("shard_after"))
    }),

    // Two-pass distributed stable shuffle == global row_number proof.
    "q_global_shuffle" -> ((s, dir) => {
      val keyed = t(s, dir, "documents").select(
        col("doc_id"),
        hex32(concat(col("doc_id"), lit("|" + ShufSalt))).as("pos_key"))
        .withColumn("bucket", expr(s"pos_key DIV ${(1L << 32) / ShufBuckets}"))
      Par.globalRank(keyed, "bucket", Seq(col("pos_key"), col("doc_id")), "rank")
        .select(col("doc_id"), col("bucket"), col("pos_key"),
          (col("rank") - 1L).as("global_pos"))
    }))

  val oracles: Map[String, String] = Map(
    "q_compaction_plan" ->
      s"""WITH inv AS (
         |  SELECT o_orderkey AS file_id, o_orderpriority AS part,
         |    floor(o_totalprice)::BIGINT AS size_kb
         |  FROM orders),
         |cand AS (SELECT * FROM inv WHERE size_kb < $SmallKb),
         |c AS (
         |  SELECT *, sum(size_kb) OVER (PARTITION BY part ORDER BY file_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_kb
         |  FROM cand),
         |b AS (SELECT *, ((cum_kb - size_kb) // $TargetKb)::BIGINT AS bin_id FROM c)
         |SELECT part, bin_id, count(*)::BIGINT AS n_files, sum(size_kb)::BIGINT AS kb_in,
         |  min(file_id) AS first_file, max(file_id) AS last_file
         |FROM b GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "q_zorder_layout" ->
      s"""WITH pts AS (
         |  SELECT (((user_id * 431) % 65536) + 65536) % 65536 AS x,
         |    (((((epoch_us(ts) - 1704067200000000) // 40000000) % 65536) + 65536) % 65536) AS y
         |  FROM events),
         |sp AS (
         |  SELECT x, y,
         |    (x | (x << 8)) & 16711935 AS x1, (y | (y << 8)) & 16711935 AS y1
         |  FROM pts),
         |sp2 AS (
         |  SELECT x, y,
         |    (x1 | (x1 << 4)) & 252645135 AS x2, (y1 | (y1 << 4)) & 252645135 AS y2
         |  FROM sp),
         |sp3 AS (
         |  SELECT x, y,
         |    (x2 | (x2 << 2)) & 858993459 AS x3, (y2 | (y2 << 2)) & 858993459 AS y3
         |  FROM sp2),
         |zv AS (
         |  SELECT x, y,
         |    ((x3 | (x3 << 1)) & 1431655765)
         |      | (((y3 | (y3 << 1)) & 1431655765) << 1) AS z
         |  FROM sp3),
         |stats AS (
         |  SELECT 'zorder' AS layout, z // ${(1L << 32) / ZFiles} AS file_id,
         |    count(*)::BIGINT AS n_rows,
         |    min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |  FROM zv GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'linear' AS layout, y // ${65536L / ZFiles} AS file_id,
         |    count(*)::BIGINT AS n_rows,
         |    min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |  FROM zv GROUP BY 1, 2)
         |SELECT layout, file_id, n_rows, min_x, max_x, min_y, max_y,
         |  (min_x <= $BoxXHi AND max_x >= $BoxXLo
         |    AND min_y <= $BoxYHi AND max_y >= $BoxYLo) AS scanned
         |FROM stats""".stripMargin,

    "q_snapshot_expire" ->
      s"""WITH inv AS (
         |  SELECT o_orderkey AS file_id,
         |    epoch_us(o_orderdate) // 86400000000 AS added_day,
         |    CASE WHEN o_orderstatus = 'F'
         |      THEN epoch_us(o_orderdate) // 86400000000
         |        + (((o_orderkey % 20) + 20) % 20) + 1 END AS removed_day,
         |    floor(o_totalprice)::BIGINT AS size_kb
         |  FROM orders),
         |head AS (
         |  SELECT greatest(max(added_day), coalesce(max(removed_day), 0))
         |    - $RetainDays AS cutoff_day
         |  FROM inv)
         |SELECT CASE WHEN removed_day IS NULL THEN 'live'
         |    WHEN removed_day <= cutoff_day THEN 'expirable'
         |    ELSE 'retained' END AS status,
         |  count(*)::BIGINT AS n_files, sum(size_kb)::BIGINT AS kb,
         |  min(file_id) AS first_file, max(file_id) AS last_file
         |FROM inv, head GROUP BY 1""".stripMargin,

    "q_shard_balance" ->
      s"""WITH c AS (
         |  SELECT source, count(*)::BIGINT AS c FROM documents GROUP BY 1),
         |r AS (
         |  SELECT c, row_number() OVER (ORDER BY c, source)::BIGINT AS rank
         |  FROM c),
         |a AS (
         |  SELECT count(*)::BIGINT AS n_shards, sum(c)::BIGINT AS n_docs,
         |    min(c)::BIGINT AS min_docs, max(c)::BIGINT AS max_docs,
         |    sum(rank * c)::BIGINT AS rc
         |  FROM r)
         |SELECT n_shards, n_docs, min_docs, max_docs,
         |  (((2 * rc - (n_shards + 1) * n_docs) * 1000000)
         |    // (n_shards * n_docs))::BIGINT AS gini_ppm,
         |  ((max_docs * 1000000) // min_docs)::BIGINT AS imbalance_ppm
         |FROM a""".stripMargin,

    "q_rendezvous_shards" ->
      s"""WITH w AS (
         |  SELECT doc_id, s,
         |    ${graft.functions.TextKernels.Dk.hex32("doc_id || '#' || s")} AS h
         |  FROM documents, (SELECT unnest(generate_series(0, $RdvShards)) AS s)),
         |b17 AS (SELECT doc_id, s AS shard_after FROM (
         |    SELECT doc_id, s,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s ASC) AS rn
         |    FROM w) WHERE rn = 1),
         |b16 AS (SELECT doc_id, s AS shard_before FROM (
         |    SELECT doc_id, s,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s ASC) AS rn
         |    FROM (SELECT * FROM w WHERE s < $RdvShards)) WHERE rn = 1)
         |SELECT doc_id, shard_before::BIGINT AS shard_before,
         |  shard_after::BIGINT AS shard_after,
         |  shard_before <> shard_after AS moved
         |FROM b16 JOIN b17 USING (doc_id)""".stripMargin,

    "q_global_shuffle" ->
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |    ${graft.functions.TextKernels.Dk.hex32(s"doc_id || '|$ShufSalt'")} AS pos_key
         |  FROM documents)
         |SELECT doc_id, pos_key // ${(1L << 32) / ShufBuckets} AS bucket, pos_key,
         |  (row_number() OVER (ORDER BY pos_key, doc_id) - 1)::BIGINT AS global_pos
         |FROM keyed""".stripMargin)
}
