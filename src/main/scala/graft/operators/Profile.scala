package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.hashSafeRound

/** Single-pass table profiling — the Deequ/data-quality-report class of
  * operator a pipeline runs over every ingested table before trusting
  * it: per column, null count, exact distinct count, and typed min/max
  * (numeric as round-9 doubles, strings as-is, timestamps formatted
  * `yyyy-MM-dd HH:mm:ss` — each engine-portable).
  *
  * Scale shape: ONE aggregate over the table. The exact distinct counts
  * make Catalyst plan an Expand (#cols × rows intermediate) — the
  * standard multi-distinct shape, map-side partially aggregated before
  * the single shuffle; there is no per-column rescan. At 100 TB, swap
  * `countDistinct` for `approx_count_distinct` if ±2% suffices — same
  * plan minus the Expand — but the CONTRACT here is the exact audit.
  * The wide→long reshape happens on the single 1-row aggregate result,
  * so it is free.
  */
object Profile {

  def profileTable(df: DataFrame): DataFrame = {
    // Two aggregate passes over the scan: a STRING (or any
    // variable-length) min/max in the agg buffer forces Spark out of
    // HashAggregate (immutable buffer type) into a non-codegen
    // SortAggregate — disastrous under the ×#cols Expand the exact
    // distinct counts impose. So the Expand pass carries only
    // fixed-width buffers (counts, distincts, numeric/timestamp
    // min-max → whole-stage-codegen HashAggregate), and string min/max
    // run in a second, Expand-free pass over the same scan (the
    // SortAggregate there sees the raw rows once, no ×#cols blowup).
    // The two 1-row results cross-join for free. Measured at sf0.1
    // orders (isolated min-of-4): 3.24 s single-pass SortAggregate →
    // 1.58 s split.
    val strFields = df.schema.fields.filter(_.dataType == StringType)
    val aggs: Seq[Column] = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      val n = f.name
      val nullNum = lit(null).cast("double")
      val (minNum, maxNum) = f.dataType match {
        case _: NumericType =>
          (hashSafeRound(min(c).cast("double"), 9),
            hashSafeRound(max(c).cast("double"), 9))
        case _ => (nullNum, nullNum)
      }
      // string __mins/__maxs come from the second pass (see above)
      val strMinMax = f.dataType match {
        case TimestampType | TimestampNTZType => Seq(
          date_format(min(c), "yyyy-MM-dd HH:mm:ss").as(s"__mins_$n"),
          date_format(max(c), "yyyy-MM-dd HH:mm:ss").as(s"__maxs_$n"))
        case StringType => Seq.empty
        case _ => Seq(lit(null).cast("string").as(s"__mins_$n"),
          lit(null).cast("string").as(s"__maxs_$n"))
      }
      Seq(
        count(when(c.isNull, 1)).as(s"__null_$n"),
        countDistinct(c).as(s"__nd_$n"),
        minNum.as(s"__minn_$n"), maxNum.as(s"__maxn_$n")) ++ strMinMax
    }.toSeq
    val allAggs = count(lit(1)).as("__rows") +: aggs
    val widePrim = df.agg(allAggs.head, allAggs.tail: _*)
    val wide =
      if (strFields.isEmpty) widePrim
      else {
        // the Expand pass emits no __mins_/__maxs_ for string fields,
        // so the second pass can alias them directly
        val strAggs = strFields.flatMap { f =>
          Seq(min(col(f.name)).as(s"__mins_${f.name}"),
            max(col(f.name)).as(s"__maxs_${f.name}"))
        }.toSeq
        widePrim.crossJoin(df.agg(strAggs.head, strAggs.tail: _*))
      }
    val perCol = df.schema.fields.map { f =>
      val n = f.name
      struct(lit(n).as("column"),
        lit(f.dataType.simpleString).as("dtype"),
        col(s"__null_$n").as("n_null"),
        col(s"__nd_$n").as("n_distinct"),
        col(s"__minn_$n").as("min_num"),
        col(s"__maxn_$n").as("max_num"),
        col(s"__mins_$n").as("min_str"),
        col(s"__maxs_$n").as("max_str"))
    }
    wide.select(col("__rows").as("n_rows"),
        explode(array(perCol.toIndexedSeq: _*)).as("p"))
      .select(col("p.column").as("column"), col("p.dtype").as("dtype"),
        col("n_rows"), col("p.n_null").as("n_null"),
        col("p.n_distinct").as("n_distinct"),
        col("p.min_num").as("min_num"), col("p.max_num").as("max_num"),
        col("p.min_str").as("min_str"), col("p.max_str").as("max_str"))
      .orderBy("column")
  }

  /** Key-skew profiler — the diagnostic that feeds the
    * [[Scale]] salting / AQE-skew-join decision before a big keyed
    * shuffle: the `topK` heaviest keys with their row counts, corpus
    * share, and skew factor (count ÷ mean-rows-per-key — 1.0 means
    * perfectly uniform; the factor of the heaviest key bounds the
    * straggler task). One keyed count, one broadcast 1-row totals
    * rider, one global top-k (WindowGroupLimit prunes before the
    * sort); keys surface as strings so the audit is schema-generic.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"))
    val w = Window.orderBy(col("n").desc, col("key").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("key"), col("n"),
        (col("n").cast("double") / col("n_rows").cast("double")).as("share"),
        (col("n").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).as("skew_factor"))
      .orderBy("rank")
  }

  /** Population Stability Index drift audit of a numeric column: the
    * time range splits at its µs midpoint (integral arithmetic), the
    * value range into `buckets` equal-width cells from the GLOBAL
    * min/max, and each cell reports both halves' counts plus its PSI
    * term (pₐ−p_b)·ln(pₐ/p_b) — the standard "did this metric's
    * distribution shift" gate (PSI < 0.1 stable, > 0.25 shifted; the
    * numeric companion to q117's text-distribution JS divergence).
    * Cells empty on either side report a null term (no epsilon
    * smoothing is silently injected); summing the non-null terms is
    * the caller's PSI.
    *
    * Exactness: the split point and counts are integral; bucket
    * assignment and the PSI term are pinned IEEE chains (ln through
    * the q66 round-9 idiom). Scale: one scan with a broadcast 1-row
    * bounds rider, one bucket-keyed aggregate; output = `buckets`
    * rows.
    */
  def populationStability(df: DataFrame, valueCol: String, tsCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val base = df.select(col(valueCol).cast("double").as("v"),
      unix_micros(col(tsCol)).as("tus"))
    val bounds = base.agg(min(col("tus")).as("t0"), max(col("tus")).as("t1"),
      min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val counts = base.crossJoin(broadcast(bounds))
      .withColumn("mid", expr("(t0 + t1) div 2"))
      .withColumn("side",
        when(col("tus") <= col("mid"), lit("a")).otherwise(lit("b")))
      .withColumn("w", (col("vmax") - col("vmin")) / lit(buckets))
      .withColumn("bucket",
        when(col("w") > 0,
          least(floor((col("v") - col("vmin")) / col("w")).cast("double"),
            lit((buckets - 1).toDouble)))
          .otherwise(lit(0.0)).cast("long"))
      .groupBy("bucket")
      .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val grid = df.sparkSession.range(0, buckets).toDF("bucket")
    val pa = col("n_a").cast("double") / col("ta").cast("double")
    val pb = col("n_b").cast("double") / col("tb").cast("double")
    grid.join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("ta"), col("tb"))
      .select(col("bucket"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          graft.functions.hashSafeRound((pa - pb) * log(pa / pb), 9))
          .as("psi_term"))
      .orderBy("bucket")
  }

  /** Mergeable binned-quantile audit — the 100 TB path for exact
    * `percentile` (q104), whose aggregation buffer materializes every
    * group value: quantiles are read off a fixed-width histogram
    * instead. bin = value div binWidth (values must be non-negative —
    * integral div agrees across engines there); per-(group, bin)
    * counts aggregate with map-side combine, so the ONE shuffle moves
    * a key domain of groups × occupied bins, not rows; the cumulative
    * walk and the pct fan-out run over that bounded bin table. The
    * reported quantile is the FIRST bin whose cumulative count reaches
    * pct% of the group (integer cross-multiply `cum*100 >= pct*total`
    * — no float threshold), so the true pct-quantile value lies in
    * [q_lo, q_hi] exactly. Precision is ±binWidth by construction —
    * the classic histogram-quantile trade — and bin-count tables merge
    * across shards/days/snapshots by ADDING counts, where a percentile
    * buffer cannot merge at all.
    */
  def binnedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Long, pcts: Seq[Int]): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be within [1,100]: $pcts")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("grp"),
        expr(s"CAST($valueCol AS BIGINT) div $binWidth").as("bin"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("n"))
    val cum = counts
      .withColumn("cum",
        sum(col("n")).over(Window.partitionBy("grp").orderBy("bin")))
      .withColumn("total", sum(col("n")).over(Window.partitionBy("grp")))
    cum.select(col("grp"), col("bin"), col("cum"), col("total"),
        explode(array(pcts.map(p => lit(p)): _*)).as("pct"))
      .filter(col("cum") * 100L >= col("pct").cast("long") * col("total"))
      .groupBy("grp", "pct")
      .agg(min(col("bin")).as("q_bin"))
      .select(col("grp").as(groupCol), col("pct"), col("q_bin"),
        (col("q_bin") * binWidth).as("q_lo"),
        ((col("q_bin") + 1L) * binWidth - 1L).as("q_hi"))
      .orderBy(groupCol, "pct")
  }

  /** Referential-integrity audit over a set of foreign-key edges
    * (child.fk → parent.pk): per edge, the child row count, the null-FK
    * count, the orphan count (non-null FK with no matching parent key)
    * and the number of DISTINCT orphan key values — the pre-join data
    * contract a star-schema pipeline checks before trusting its
    * dimension joins.
    *
    * Scale shape: per edge, parent keys are projected + de-duplicated
    * (column-pruned scan) and LEFT-joined to the child's FK column
    * only; AQE sizes each join at runtime — no broadcast hints, per
    * the linear-growth-table rule (a parent like `customer` scales
    * with the corpus, so a hint that is right at sf0.1 OOMs at 100×).
    * All four audit measures come out of ONE aggregate over the joined
    * frame; edges union a handful of single-row results.
    */
  def referentialAudit(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "referentialAudit needs at least one edge")
    edges.map { case (name, child, fkCol, parent, pkCol) =>
      val pk = parent.select(col(pkCol).as("__pk")).distinct()
      child.select(col(fkCol).as("__fk"))
        .join(pk, col("__fk") === col("__pk"), "left")
        .agg(
          count(lit(1)).as("n_child"),
          sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
          sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
            .otherwise(0L)).as("n_orphan"),
          countDistinct(when(col("__pk").isNull, col("__fk")))
            .as("n_orphan_keys"))
        .select(lit(name).as("edge"), col("n_child"), col("n_null_fk"),
          col("n_orphan"), col("n_orphan_keys"))
    }.reduce(_ unionAll _).orderBy(col("edge"))
  }

  /** Chi-square independence audit between two categorical columns —
    * the "is the label mix independent of the source?" check a corpus
    * audit runs before trusting a stratified split. Emits the FULL
    * label-domain cross (including zero-observed cells — they carry
    * chi² mass too): per (a, b) cell the observed count, both margins,
    * the expected count under independence, and the cell's chi² term.
    *
    * The verdict stays per-cell: a single chi² total would sum doubles
    * in engine-dependent order; the per-cell terms are each ONE
    * deterministic double formula over exact int64 margins (all under
    * 2^53 at any realistic label-domain size), so the output is
    * hash-stable and the analyst (or a dsum) folds the total.
    *
    * Scale shape: one (a, b)-keyed aggregate over the corpus (map-side
    * combined), then margins/total/cross all derive from the
    * label-domain-sized cell table — the crossJoin multiplies two
    * bounded label domains, never corpus rows.
    */
  def contingencyChi2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("obs"))
    val rm = cell.groupBy(col(aCol)).agg(sum(col("obs")).as("row_margin"))
    val cm = cell.groupBy(col(bCol)).agg(sum(col("obs")).as("col_margin"))
    val tot = cell.agg(sum(col("obs")).as("total"))
    val expected = col("row_margin").cast("double") *
      col("col_margin").cast("double") / col("total").cast("double")
    rm.crossJoin(broadcast(cm))
      .join(cell, Seq(aCol, bCol), "left")
      .crossJoin(broadcast(tot))
      .select(col(aCol), col(bCol),
        coalesce(col("obs"), lit(0L)).as("obs"),
        col("row_margin"), col("col_margin"),
        expected.as("expected"),
        (pow(coalesce(col("obs"), lit(0L)).cast("double") - expected, 2) /
          expected).as("chi2_term"))
      .orderBy(col(aCol), col(bCol))
  }

  /** Pairwise Pearson correlation over a set of numeric columns in ONE
    * aggregate pass: every Σx, Σx², Σxy accumulates in DECIMAL(30,6)
    * (the dsum discipline — double-summation order never crosses the
    * gate), and each coefficient is one final double formula over
    * those exact sums, `(nΣxy − ΣxΣy) / √((nΣx²−Σx²)(nΣy²−Σy²))`.
    * Matches DuckDB's native `corr` to 6 dp on this corpus while
    * staying bit-reproducible across partitionings.
    *
    * Scale shape: a single 1-row aggregate (k + k(k+1)/2 sums) over
    * the corpus — no per-pair rescan, no shuffle beyond the final
    * combine; the wide→long pair reshape happens on the 1-row result.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    // The exact sums come from ONE DecimalMomentsAgg pass over any
    // column count: the same DECIMAL(30,6) values bit-for-bit as the
    // builtin-sum menu it replaced (DecimalMomentsSpec pins parity at
    // 4 and 12 columns), but primitive 128-bit accumulation instead
    // of a per-row-per-sum BigDecimal chain — the builtin menu
    // allocated 5.57 GB/pass on q169 at sf0.1, ~all of the query's
    // cost (VERDICT r14 item 3).
    val one =
      df.agg(count(lit(1)).cast("double").as("__n"),
          graft.functions.decimalMoments(
            cols.map(c => col(c).cast("double")), cols).as("__m"))
        .select(col("__n") +: cols.map(c => col(s"__m.__s_$c")) ++:
          cols.map(c => col(s"__m.__ss_$c")) ++:
          pairs.map { case (x, y) => col(s"__m.__sp_${x}_$y") }: _*)
    val rows = pairs.map { case (x, y) =>
      struct(lit(x).as("col_x"), lit(y).as("col_y"),
        col("__n").cast("long").as("n"),
        ((col("__n") * col(s"__sp_${x}_$y") -
          col(s"__s_$x") * col(s"__s_$y")) /
          sqrt((col("__n") * col(s"__ss_$x") -
            col(s"__s_$x") * col(s"__s_$x")) *
            (col("__n") * col(s"__ss_$y") -
              col(s"__s_$y") * col(s"__s_$y")))).as("pearson_r"))
    }
    one.select(explode(array(rows: _*)).as("__p"))
      .select(col("__p.col_x"), col("__p.col_y"), col("__p.n"),
        col("__p.pearson_r"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** 2-D Pareto frontier (skyline, maximize both axes): the rows no
    * other row strictly dominates — the "best length-for-quality
    * tradeoff" selection a curation pipeline runs instead of a single
    * weighted score. Strict dominance: a row survives iff no other row
    * is ≥ on both axes and > on at least one (exact duplicates of a
    * frontier point all survive).
    *
    * Computed WITHOUT the O(n²) pair join the definition suggests: a
    * row is dominated iff (max y among strictly-greater x) ≥ its y, or
    * a same-x row has strictly greater y. So: one groupBy(x) max(y)
    * pass (map-side combined), one running-max window over the
    * |distinct x| aggregate — single-partition but value-domain-sized,
    * NOT data-sized — then one equi-join of the flags back to the
    * data (AQE broadcasts the per-x table when the domain is small;
    * no hint, so a genuinely large domain degrades to SMJ instead of
    * OOM). Both axes must be integral (exact compares cross-engine).
    */
  def paretoFrontier(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.select(col(idCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"))
    val wPrev = Window.orderBy(col("__x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val perX = p.groupBy("__x").agg(max(col("__y")).as("__maxy"))
      .withColumn("__prevmax", max(col("__maxy")).over(wPrev))
    p.join(perX, "__x")
      .filter(col("__y") === col("__maxy") &&
        (col("__prevmax").isNull || col("__prevmax") < col("__y")))
      .select(col(idCol), col("__x").as(xCol), col("__y").as(yCol))
      .orderBy(col(xCol).desc, col(idCol))
  }

  /** Median/MAD robust outlier audit per group — the heavy-tail-safe
    * replacement for mean/stddev z-scores (one whale shifts a mean;
    * it cannot shift a median). Exact interpolated medians via
    * `percentile` — on integral inputs the interpolation lands on
    * 0.25-multiples, exact in binary floating point, so the
    * `|x − med| > k·mad` compare is engine-exact without rounding
    * (irrational-output round-9 rule does not apply: every value here
    * is an exact rational).
    *
    * Scale: three group-keyed passes (median, MAD, outlier count) —
    * the exact `percentile` buffers each group's values, so group
    * cardinality is the memory envelope, same contract as the
    * interpolated percentiles elsewhere in this file; at 100 TB swap
    * both `percentile` calls for `percentile_approx` (same plan, mergeable
    * sketch buffers) when ±ε on the cut is acceptable — the CONTRACT
    * here is the exact audit.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double): DataFrame = {
    val v = df.select(col(groupCol).as("g"),
      col(valueCol).cast("double").as("v"))
    val med = v.groupBy("g")
      .agg(percentile(col("v"), lit(0.5)).as("med"),
        count(lit(1)).as("n"))
    val dev = v.join(med, "g")
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = dev.groupBy("g")
      .agg(percentile(col("ad"), lit(0.5)).as("mad"))
    dev.join(mad, "g")
      .groupBy(col("g"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("ad") > lit(k) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("g").as(groupCol), col("n"), col("med"), col("mad"),
        col("n_outliers"),
        (col("n_outliers").cast("double") / col("n").cast("double"))
          .as("outlier_frac"))
      .orderBy(groupCol)
  }

  /** EXACT per-group quantiles by domain compression — the third leg
    * of the quantile family: [[binnedQuantiles]] trades exactness for
    * mergeable fixed-width bins; this one is exact WHEN the value
    * domain compresses (|distinct values| per group ≪ rows — ages,
    * lengths, counts, prices in cents): aggregate to (group, value)
    * counts first, then read each requested percentile off the
    * cumulative with the integer threshold `cum·100 ≥ n·p` (no float
    * thresholds, no interpolation — the reported quantile is the
    * SMALLEST attained value at or past the rank, DuckDB
    * quantile_disc-compatible and engine-exact). Values must be
    * integral (cast to long).
    *
    * Scale: ONE map-side-combinable aggregate over the corpus into the
    * compressed (group, value) table; the cumulative window runs per
    * group over |distinct values| rows — never over raw rows. If the
    * domain does NOT compress, use [[binnedQuantiles]].
    */
  def domainQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100]: $pcts")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("g")
    val cum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val qCols = pcts.map(p =>
      min(when(col("cum") * 100 >= col("n") * p, col("v"))).as(s"p$p"))
    cum.groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"), qCols: _*)
      .orderBy(groupCol)
  }
}
