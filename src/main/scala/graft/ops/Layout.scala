package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, Tables}

/** Data-LAYOUT operators: multi-dimensional clustering (Z-order) and
  * small-file compaction — the table-maintenance half of running a
  * 100 TB lakehouse that query operators alone don't cover.
  *
  * Why these are engine surface: parquet scans prune on per-file and
  * per-row-group min/max statistics, so the LAYOUT of rows across files
  * decides how much of the corpus a selective scan touches. Sorting by
  * one column prunes one predicate dimension; interleaving the bits of
  * two columns (Morton / Z-order) bounds BOTH dimensions per file, so
  * range predicates on either (or both) columns skip most files. And a
  * streaming ingest that lands thousands of small files per hour needs
  * periodic compaction or scan planning drowns in file-open overhead.
  * Both operators here are one repartitionByRange + sorted write — the
  * shape that scales to any corpus the cluster can shuffle.
  */
object Layout {

  /** Spread the low 16 bits of `c` to even bit positions (0,2,4,…,30)
    * — the textbook mask-and-shift Morton construction, expressed in
    * builtin bitwise ops so the whole Z-value computation stays inside
    * whole-stage codegen (no UDF, no custom expression needed).
    */
  def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 2-D Morton (Z-order) value of two 16-bit coordinates: bits of `a`
    * at odd positions, bits of `b` at even positions.
    */
  def zValue2(a: Column, b: Column): Column =
    shiftleft(spread16(a), 1).bitwiseOR(spread16(b))

  /** Z-order the frame on two integer coordinate columns and write it
    * range-partitioned by Z-value: consecutive files hold Z-adjacent
    * rows, so every file's (a, b) bounding box is small and parquet
    * min/max pruning works for predicates on either column. This is the
    * write-side operator; [[q79ZOrderLayout]] is the driver-gated
    * arithmetic check of the same Z mapping.
    */
  def zOrderWrite(df: DataFrame, aCol: String, bCol: String, outPath: String,
      files: Int, mod: Int = 1 << 16): Unit =
    df.withColumn("__z", zValue2(pmod(col(aCol), lit(mod)), pmod(col(bCol), lit(mod))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Z-order bucket statistics over lineitem's (part, supplier) key
    * pair: bucket = top 6 bits of the 20-bit Z-value of
    * (l_partkey % 1024, l_suppkey % 1024). The per-bucket min/max of
    * BOTH coordinates — what a parquet footer would store per file
    * after [[zOrderWrite]] — is the observable: each bucket covers a
    * bounded rectangle of the key space (≤ 1/8 of each dimension's
    * range), which is exactly the property that makes two-dimensional
    * scan pruning work. Pure integer arithmetic, mirrored bit-for-bit
    * by the DuckDB oracle; one hash aggregation, no joins.
    */
  def q79ZOrderLayout(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(pmod(col("l_partkey"), lit(1024L)).as("px"),
        pmod(col("l_suppkey"), lit(1024L)).as("sx"))
      .withColumn("zbucket", shiftright(zValue2(col("px"), col("sx")), 14))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("px").as("px_min"), max("px").as("px_max"),
        min("sx").as("sx_min"), max("sx").as("sx_max"))
      .orderBy("zbucket")

  // compacted-copy memo; the key carries targetRecordsPerFile too: a
  // non-default file-size request must build its own copy, not silently
  // serve the default layout
  private val compactMemo = SessionMemo[String]("compact", "documents")(_ => ())

  /** Compact a parquet directory into ~`targetRecordsPerFile`-row files,
    * range-clustered and sorted by `rangeCol`: one count to size the
    * file count, one range shuffle, one sorted write. Output files hold
    * disjoint `rangeCol` ranges (repartitionByRange) with rows sorted
    * inside (sortWithinPartitions), so post-compaction scans prune on
    * `rangeCol` min/max per file AND benefit from parquet run-length/
    * delta encoding on the sort column. maxRecordsPerFile caps any
    * straggler partition AQE-style range skew could inflate.
    */
  def compact(df: DataFrame, outPath: String, targetRecordsPerFile: Long,
      rangeCol: String): Unit = {
    val n = df.count()
    val files = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    df.repartitionByRange(files, col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(outPath)
  }

  /** Compaction as a driver-gated query: compact the documents table
    * into ~200-row files under java.io.tmpdir (once per session ×
    * corpus fingerprint — the build-once memo q70 also uses), then read
    * the COMPACTED copy back and return every row. The oracle reads the
    * ORIGINAL table, so the gate proves the rewrite is lossless
    * byte-for-byte across all columns — the property a maintenance
    * operator must never violate. LayoutSpec asserts the file-level
    * layout (count, disjoint doc_id ranges).
    */
  def q80CompactRoundtrip(s: SparkSession, d: String,
      targetRecordsPerFile: Long = 200): DataFrame = {
    val out = compactMemo.onDisk(s, d, targetRecordsPerFile) { dir =>
      compact(Tables.documents(s, d), dir, targetRecordsPerFile, "doc_id")
      dir
    }
    s.read.parquet(out)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** The numeric lineitem columns q91 profiles — one list shared with
    * the generated oracle SQL (SparkEntry) so the two stay in lockstep
    * structurally.
    */
  val StatsColumns: Seq[String] = Seq(
    "l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax")

  /** ANALYZE-style TABLE STATISTICS of lineitem's [[StatsColumns]] —
    * see [[tableStats]].
    */
  def q91TableStats(s: SparkSession, d: String): DataFrame =
    tableStats(Tables.lineitem(s, d), StatsColumns)

  /** ANALYZE-style TABLE STATISTICS — per-column row/null/distinct
    * counts and min/max, the stats a cost-based optimizer and a layout
    * planner (file skipping, bucketing decisions) feed on. One row per
    * column of `cols` (integral or floating-point), ordered by name:
    * `(col_name, n_rows, n_nulls, n_distinct, min_v, max_v)`, min/max
    * as double.
    *
    * ONE scan pass and two plain aggregates: each row unpivots into one
    * `(col_name, l, d)` cell per column — integral values in the bigint
    * `l`, floating-point values in the double `d` — and
    * `groupBy(col_name, l, d).count` deduplicates the cells map-side,
    * so the only corpus-sized shuffle carries the distinct
    * (column, value) pairs with one count each. `groupBy(col_name)`
    * then folds each column's pairs: n_rows = Σ n, n_nulls = n of the
    * null-value pair, n_distinct = the number of non-null pairs,
    * min/max over the values. Grouping normalizes floating-point keys
    * as `countDistinct` does (−0.0 = 0.0, one NaN). Every column also
    * gets a zero-count null-value pair, so a table without rows still
    * reports each column (n_rows 0, min/max null), as the oracle's
    * GROUP BY-free aggregates do.
    *
    * No `countDistinct`: several in one aggregate plan as an Expand
    * that copies each row once per column plus once more, every copy
    * carrying all columns' aggregate buffers, and the rewrite's column
    * order is not stable, so its generated code recompiles on every
    * run. This plan is the same on every run, so Spark's codegen cache
    * hits.
    *
    * 100 TB note: EXACT ndv is deliberate here because the oracle needs
    * bit-equality; a production ANALYZE at corpus scale swaps the pair
    * shuffle for an approx_count_distinct sketch per column (the q38
    * HLL family) — sketch-sized state instead of distinct-sized.
    */
  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val cells = cols.map { c =>
      val (l, v) = df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          (col(c).cast("bigint"), lit(null).cast("double"))
        case FloatType | DoubleType =>
          (lit(null).cast("bigint"), col(c).cast("double"))
        case t => throw new IllegalArgumentException(
          s"tableStats: column $c is ${t.simpleString}, not integral or floating-point")
      }
      struct(lit(c).as("col_name"), l.as("l"), v.as("d"))
    }
    val pairs = df.select(explode(array(cells: _*)).as("cell"))
      .select("cell.*")
      .groupBy("col_name", "l", "d")
      .agg(count(lit(1)).as("n"))
    val noRows = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(cols.map(c => Row(c, null, null, 0L)): _*), pairs.schema)
    val isNull = col("l").isNull && col("d").isNull
    // the zero-count pair puts a non-null n in every group; coalesce
    // only tells Catalyst so (non-nullable counts, as in the oracle's)
    def total(n: Column): Column = coalesce(sum(n), lit(0L))
    pairs.union(noRows)
      .groupBy("col_name")
      .agg(
        total(col("n")).as("n_rows"),
        total(when(isNull, col("n"))).as("n_nulls"),
        count(when(!isNull, lit(1))).as("n_distinct"),
        coalesce(min("l").cast("double"), min("d")).as("min_v"),
        coalesce(max("l").cast("double"), max("d")).as("max_v"))
      .coalesce(1) // ≤ |cols| rows: sort them in one task, no range sampler
      .orderBy("col_name")
  }

  /** Key-based UPSERT (MERGE apply): changed rows win, unchanged base
    * rows survive via one anti-join on the key. This is the logical
    * core of copy-on-write MERGE INTO — at 100 TB the same plan runs
    * per affected partition (changes are partition-pruned first, only
    * touched partitions rewrite), which is exactly how lakehouse-format
    * merge works under the hood; the anti-join broadcasts whenever the
    * change batch is CDC-sized.
    */
  def upsert(base: DataFrame, changes: DataFrame, key: String): DataFrame =
    changes.unionByName(
      base.join(changes.select(key), Seq(key), "left_anti"))

  /** Driver-visible MERGE scenario over `orders`: a deterministic CDC
    * batch (updates: keys %7==0 get status 'U' and +50.00 — exact cents
    * arithmetic; inserts: keys %13==0 cloned to key+1e8 with status
    * 'N') applied via [[upsert]], summarized per status with exact
    * integer money sums. The summary is the checksum: a lost base row,
    * a duplicated key, or a mis-applied update each move a count or a
    * cent total.
    */
  def q92UpsertApply(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Round._
    val base = Tables.orders(s, d)
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", fromCents(cents(col("o_totalprice")) + lit(5000L)))
    val inserts = base.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
    upsert(base, updates.unionByName(inserts), "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(col("o_orderstatus"), col("n_rows"),
        (col("total_cents").cast("double") / lit(100.0)).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** MERGE apply WITH DELETES — [[upsert]]'s missing half (real CDC
    * batches carry tombstones): one changes frame with an `op` column
    * (`upsert` | `delete`); upserted keys win over base rows, deleted
    * keys are removed, and a key carrying BOTH ops in one batch
    * resolves to DELETED — takedown wins, the precedence a
    * training-data pipeline needs (a right-to-be-forgotten sweep must
    * not be resurrected by a concurrent metadata update; re-admission
    * is an explicit upsert in a LATER batch). Same copy-on-write scale
    * shape as [[upsert]]: at 100 TB the change batch partition-prunes
    * first and only touched partitions rewrite; both anti-joins
    * broadcast whenever the batch is CDC-sized.
    *
    * Contract: the UPSERT arm must be key-unique within one changeset
    * (the same requirement Delta's MERGE enforces by erroring on
    * multiple source matches) — two unsequenced upserts for one key
    * have no defined winner, and both would survive the merge as
    * duplicate keys. Batches with intra-batch ordering route through
    * the CDC stream ([[graft.streaming.StreamingOps.applyCdcBatch]]),
    * where log order sequences them; LayoutSpec pins the contract and
    * q176's scenario is verified key-unique.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String,
      opCol: String = "op"): DataFrame = {
    val dels = changes.filter(col(opCol) === "delete").select(key)
    val ups = changes.filter(col(opCol) === "upsert").drop(opCol)
    upsert(base, ups, key).join(dels, Seq(key), "left_anti")
  }

  /** Driver-visible MERGE-WITH-DELETES scenario (q176) — q92's CDC
    * batch extended with tombstones: updates (keys %7 → status 'U',
    * +50.00 exact cents), inserts (keys %13 cloned to key+1e8, status
    * 'N'), DELETES (keys %11 — deliberately including keys ALSO
    * matched by the update rule at %77, which must come out deleted:
    * takedown-wins precedence is part of the gated contract; and keys
    * %143 whose OLD row deletes while their %13-minted clone at
    * key+1e8 survives — a takedown-and-reissue in one batch). Same
    * per-status checksum shape as q92 (counts + exact cent totals): a
    * resurrected deleted row, a lost tombstone, or a mis-precedenced
    * %77 key each move a count or a cent.
    */
  def q176MergeDelete(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Round._
    val base = Tables.orders(s, d)
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice",
        fromCents(cents(col("o_totalprice")) + lit(5000L)))
    val inserts = base.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
    val changes = updates.unionByName(inserts)
      .withColumn("op", lit("upsert"))
      .unionByName(base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("op", lit("delete")))
    applyChanges(base, changes, "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(col("o_orderstatus"), col("n_rows"),
        (col("total_cents").cast("double") / lit(100.0)).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** CORPUS SNAPSHOT DIFF — the change-data view between two table
    * versions (what Delta/Iceberg expose as CDF): per-key status
    * added / removed / changed / unchanged, derived from a full-outer
    * merge of the two snapshots on the primary key with a content-hash
    * compare. The maintenance twin of [[q92UpsertApply]]: upsert
    * APPLIES a changeset; this RECOVERS the changeset two snapshots
    * imply — what an incremental pipeline consumes to reprocess only
    * what moved between corpus versions (re-embed changed docs, retire
    * removed ones, dedup-check added ones).
    *
    * Versions are deterministic slices of the fixture (the q78/q116
    * constructed-content idiom): v1 drops doc_id ≡ 4 (mod 5), v2 drops
    * doc_id ≡ 0 (mod 5) — so added = ≡0-not-≡4, removed = ≡4 — and v2
    * revises text for doc_id ≡ 3 (mod 7). Comparison travels as
    * md5(text) — bounded width per row no matter how wide the payload,
    * which is what makes the diff shufflable at 100 TB: the merge
    * carries (key, 32-hex) only. Plan: one scan feeding both filtered
    * sides, one full-outer SortMergeJoin on doc_id; on a real lake both
    * snapshots would be bucketed by doc_id and the exchange vanishes
    * (sources/Bucketing.scala). No skew risk: doc_id is unique per
    * side.
    */
  def q136CorpusDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val v1 = base.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id"), md5(col("text")).as("old_md5"))
    val v2 = base.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("new_md5"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_md5"), col("new_md5"),
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy("doc_id")
  }
}
