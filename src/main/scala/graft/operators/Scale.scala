package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques for skewed and co-located workloads — the two
  * levers (salting, bucketing) for when the default shuffle hash
  * partitioning degrades at 100 TB.
  */
object Scale {

  /** Skew-safe equi-join: scatter the skewed (probe) side across
    * `salts` sub-keys and replicate the build side once per salt, so a
    * hot key's rows land on `salts` reducers instead of one.
    *
    * AQE's skew-join handles sort-merge skew automatically at runtime;
    * explicit salting remains the tool where AQE cannot rewrite —
    * streaming joins, aggregation-after-join pipelines that must keep
    * a partitioning, or engines with AQE off. The salt is derived
    * deterministically from the probe row (no rand()), so retries and
    * re-runs produce identical partitioning.
    *
    * @param saltFrom probe-side columns that disambiguate rows within
    *                 a hot key (e.g. the event id); the salt is
    *                 xxhash64 of them mod `salts`.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salts: Int, saltFrom: Seq[String]): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(saltFrom.map(col): _*), lit(salts)).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** The bloom joins' predicate: `xxhash64(factKey)` might be among
    * `keys`' `xxhash64(keyCol)` (see [[bloomPrunedSemiJoin]]).
    */
  private def bloomMightContain(factKey: String, keys: DataFrame,
                                keyCol: String, expectedKeys: Long,
                                fpp: Double): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.GraftColumnBridge
    val bf = keys.select(xxhash64(col(keyCol)).as("__h"))
      .stat.bloomFilter("__h", expectedKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray,
        org.apache.spark.sql.types.BinaryType),
      GraftColumnBridge.expression(xxhash64(col(factKey)))))
  }

  /** Bloom-pruned semi-join — the 100 TB shape for "keep fact rows
    * whose key appears in a key set" when the key set is too large to
    * make its hash-join cheap but its BLOOM FILTER fits in memory
    * (Spark's own runtime row-level filtering rewrites joins onto this
    * exact machinery — BloomFilterMightContain — but only when the
    * optimizer spots the pattern and within its size thresholds; this
    * is the same trick as an explicit, dialable operator).
    *
    * Build: one distributed aggregate over the key side's xxhash64
    * (`stat.bloomFilter` — the sketch, not the keys, comes to the
    * driver: ~1.2 MB for 1M keys at 1% fpp), embedded as a binary
    * literal predicate on the fact side — per-row `mightContainLong`,
    * NO shuffle, no false negatives, false-positive rate ≈ `fpp`.
    * The exact left-semi join then runs on the survivors only, so the
    * OUTPUT is exact; the bloom's sole effect is cutting the volume
    * entering the semi-join's shuffle to sel + (1−sel)·fpp of the
    * fact (sel = true selectivity). At 1% selectivity and 1% fpp that
    * is a ~50× reduction of shuffled fact rows for one scan-local
    * predicate.
    */
  def bloomPrunedSemiJoin(fact: DataFrame, factKey: String,
                          keys: DataFrame, keyCol: String,
                          expectedKeys: Long,
                          fpp: Double = 0.01): DataFrame = {
    fact.filter(bloomMightContain(factKey, keys, keyCol, expectedKeys, fpp))
      .join(keys.select(col(keyCol).as(factKey)).distinct(),
        Seq(factKey), "left_semi")
  }

  /** Write a DataFrame as a bucketed table: rows are hash-bucketed by
    * `key` into `nBuckets` files per partition, so a subsequent join
    * or aggregation on `key` between co-bucketed tables needs NO
    * shuffle (Exchange disappears from the plan — the parquet layout
    * IS the partitioning). The 100 TB pattern for repeated joins on
    * the same key.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
    // external-table variant: bucket METADATA lives in the (session-
    // scoped, in-memory) catalog either way — read back via
    // spark.table(), never read.parquet(path), or the bucketing is
    // invisible and the join shuffles again
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Bloom-pruned ANTI-join — [[bloomPrunedSemiJoin]]'s mirror and the
    * incremental-dedup shape: "keep fact rows whose key does NOT
    * appear in the key set" (new documents vs the historical content
    * index, unseen users vs the known-id table). The bloom's
    * no-false-negatives guarantee cuts the other way here: a row the
    * filter REJECTS is definitely absent from the key set and is kept
    * outright without ever entering a join; only the might-contain
    * minority (true members + fpp of the rest) proceeds to the exact
    * anti-join that removes the false positives. Output is exact; at
    * 1% membership and 1% fpp the anti-join's shuffle sees ~2% of the
    * fact instead of all of it.
    *
    * Cost honesty: the two branches are separate subtrees, so the fact
    * is SCANNED twice (both passes scan-local, bloom-probed at the
    * source) — the trade is two cheap reads against shuffling ~all of
    * the fact, which wins when the shuffle dominates. Cache the fact
    * first when it fits (incremental batches usually do), or prefer
    * the plain left_anti join when scan cost dominates instead.
    */
  def bloomPrunedAntiJoin(fact: DataFrame, factKey: String,
                          keys: DataFrame, keyCol: String,
                          expectedKeys: Long,
                          fpp: Double = 0.01): DataFrame = {
    val might = bloomMightContain(factKey, keys, keyCol, expectedKeys, fpp)
    val definitelyNew = fact.filter(!might)
    val maybe = fact.filter(might)
      .join(keys.select(col(keyCol).as(factKey)).distinct(),
        Seq(factKey), "left_anti")
    definitelyNew.unionByName(maybe)
  }

  /** Morton (Z-order) value of two dimension indices: the low `bits`
    * bits of `a` and `b` interleaved (a → even positions, b → odd), so
    * sorting by the z-value clusters rows that are close in BOTH
    * dimensions. The layout lever for two-dimensional predicates that
    * hive partitioning can serve for only one: files/row-groups along
    * a z-sorted order have narrow min/max ranges in BOTH columns, so
    * parquet statistics prune scans filtered on either one (what Delta
    * OPTIMIZE ZORDER and friends do, as a plain column expression).
    * Inputs must already be non-negative dimension indices; out-of-
    * range bits are masked (caller maps domains order-preservingly —
    * e.g. ids directly, timestamps via epoch-day offset).
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    val am = a.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val bm = b.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(am.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(bm.bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  /** Write `df` clustered by the z-order of two dimension columns:
    * range-partitioned into `numFiles` z-ranges and z-sorted within
    * each file, so parquet min/max statistics on BOTH dimensions stay
    * narrow (≈ sqrt(numFiles) tiles per axis) and a predicate on
    * either column skips most files — where a single-column sort
    * serves one dimension and leaves the other's per-file range at
    * the full domain. The z column is layout-only and dropped from
    * the files; reads are plain `spark.read.parquet`.
    */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
                    bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be positive: $numFiles")
    df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write the time-range-query storage layout: hive-partitioned by
    * the UTC date of `tsCol` (directory-level pruning: Telemetry.plan
    * derives the implied `dt` day-range predicate from a request's
    * time bounds, so a day-range query never opens other days' files)
    * and range-partitioned + sorted by (date, sortCols…, ts) within
    * files, so parquet row-group min/max statistics prune WITHIN the
    * touched day too. The write-side counterpart of the planner's
    * ts_ns scan pushdown: pushdown can only skip what the layout
    * physically separates. `sortCols` first (e.g. stream_id) gives
    * row-group locality for keyed time-range reads — the dominant
    * telemetry access path.
    *
    * The range repartition also bounds file count: one writer task per
    * range, instead of every task writing a sliver of every day
    * (the small-files failure mode of a naive partitionBy at scale).
    */
  /** Compact a parquet directory's small files: rewrite to
    * ceil(totalBytes / targetFileBytes) files, preserving rows exactly
    * (sorted by `sortCols` within the rewritten files when given) AND
    * preserving any hive partition layout — a [[writeTimePartitioned]]
    * root keeps its `dt=…` directories, so planner-derived partition
    * pruning survives compaction.
    * Streaming sinks and frequent small batch appends accumulate
    * sliver files whose per-file open/footer cost comes to dominate
    * scan planning and execution at scale — compaction is the standing
    * maintenance companion of [[writeTimePartitioned]]. The rewrite
    * goes to `<path>.__compact` first and swaps via rename, so a crash
    * mid-rewrite leaves the original directory untouched.
    */
  /** Detect a hive partition layout under `root`: successive directory
    * levels whose children are all `name=value` dirs with a consistent
    * name per level. Returns the partition column names outermost
    * first — exactly what a partition-preserving rewrite must pass to
    * `partitionBy`. */
  private[graft] def hivePartitionCols(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val kv = "([^=/]+)=.*".r
    @annotation.tailrec
    def walk(p: org.apache.hadoop.fs.Path,
             acc: Vector[String]): Vector[String] = {
      // skip hidden/metadata entries the SAME way Spark's file index
      // does ('_' AND '.' prefixes — _temporary, _SUCCESS, .crc): a
      // leftover _temporary dir from a crashed writer must not make a
      // partitioned root look unpartitioned (a flat rewrite here would
      // collapse the dt=... directories and silently break pruning)
      val dirs = fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath)
        .filterNot(d => d.getName.startsWith(".") || d.getName.startsWith("_"))
      dirs.headOption.map(_.getName) match {
        case Some(kv(k)) if dirs.forall(_.getName.startsWith(s"$k=")) =>
          walk(dirs.head, acc :+ k)
        case _ => acc
      }
    }
    walk(root, Vector.empty)
  }

  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(path + ".__old")
    val tmp = new org.apache.hadoop.fs.Path(path + ".__compact")
    // Recover from a prior crash BEFORE doing anything else. Three
    // possible leftovers: (a) crash between the two renames — the live
    // dir is missing and `.__old` holds the data: rename it back;
    // (b) crash after the swap but before backup deletion — both
    // exist: the stale `.__old` must go, or the rename below would
    // fail (local FS) or nest into it (HDFS semantics) and then be
    // recursively deleted; (c) a stale `.__compact` from a crashed
    // write — the overwrite below replaces it.
    if (fs.exists(bak)) {
      if (!fs.exists(hadoopPath)) {
        if (!fs.rename(bak, hadoopPath))
          throw new java.io.IOException(
            s"compact: cannot restore $path from interrupted run's $bak")
      } else fs.delete(bak, true)
    }
    val totalBytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // A writeTimePartitioned root (or any hive layout) must keep its
    // partition directories: spark.read turns `dt=…` into a DATA
    // column, so a flat rewrite would collapse the directories and
    // Telemetry.plan's derived dt predicates would silently lose
    // directory-level pruning (rows preserved, performance contract
    // broken). Detect the layout and re-apply partitionBy on the
    // rewrite; partition columns lead the range-partitioning so one
    // writer task covers contiguous partition values instead of every
    // task writing a sliver into every directory.
    val partCols = hivePartitionCols(fs, hadoopPath)
    val df = spark.read.parquet(path)
    val clusterCols = (partCols ++ sortCols).map(col)
    val repart =
      if (clusterCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, clusterCols: _*)
        .sortWithinPartitions(clusterCols: _*)
    val writer = repart.write.mode("overwrite")
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(tmp.toString)
    // The two renames are not jointly atomic: a crash between them
    // leaves the live dir briefly absent — recovered automatically by
    // the preamble above on the next call (readers in that window
    // fail; directory-swap is the strongest protocol a bare
    // FileSystem offers — table formats fix this with a metadata
    // pointer, which is out of scope for a layout utility).
    if (!fs.rename(hadoopPath, bak))
      throw new java.io.IOException(s"compact: cannot move $path aside")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(bak, hadoopPath) // restore — the compacted copy is orphaned, data intact
      throw new java.io.IOException(s"compact: cannot swap in compacted $path")
    }
    fs.delete(bak, true)
  }

  def writeTimePartitioned(df: DataFrame, tsCol: String, path: String,
                           sortCols: Seq[String] = Nil): Unit = {
    val sorters = sortCols.map(col) :+ col(tsCol)
    // UTC day in pure epoch arithmetic — `to_date(ts)` would shift
    // with spark.sql.session.timeZone, silently splitting the same
    // instant across different dt partitions between writers.
    // Telemetry.plan derives its dt pruning predicates with the same
    // floorDiv(µs, 86 400 000 000) definition; the two must agree.
    val u = unix_micros(col(tsCol))
    val dayUs = 86400000000L
    // INTEGRAL division (SQL DIV), not Column./ — `/` is double
    // division, exact only while the µs numerator fits 2^53 (~year
    // 2255); past that a row could land in the wrong dt partition
    // while Telemetry.plan's Math.floorDiv stays exact. u - pmod is an
    // EXACT multiple of dayUs (pmod is the positive remainder, pre-1970
    // included), so DIV's truncation == floorDiv here.
    val epochDay = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnBridge.expression(u - pmod(u, lit(dayUs))),
        org.apache.spark.sql.catalyst.expressions.Literal(dayUs))).cast("int")
    df.withColumn("dt", date_from_unix_date(epochDay))
      .repartitionByRange(col("dt") +: sorters: _*)
      .sortWithinPartitions(col("dt") +: sorters: _*)
      .write.mode("overwrite").partitionBy("dt").parquet(path)
  }
}
