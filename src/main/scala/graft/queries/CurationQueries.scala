package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._
import SparkEntry.{sharedDsirWeights, sharedLmScores, sharedLshPairs, sharedQualityScores}

/** LLM-data curation: decontamination, quotas, sampling, DSIR and
  * quality gates, packing, splits and the end-to-end curation pipelines,
  * each with its DuckDB twin.
  */
private[graft] object CurationQueries {
  /** q152 context-window packing: bin capacity in whitespace tokens
    * (≈5 docs/bin on this corpus's ~54-token documents). */
  private val PackBinTokens = 256L
  /** q178 systematic-sampling stride (chars of cumulative weight per
    * pick): ~20 picks at sf0.01's ~500k total chars, ~200 at sf0.1. */
  private val SampleStrideChars = 25000L
  /** q87/q92 shared scoring chain: the linear quality classifier's
    * twin — seed split (every 7th doc, positive = src0), closed-form
    * naive-Bayes weights over 512 hashed uni+bigram buckets (DECIMAL
    * round-9), mean-pooled sigmoid — ending in
    * scored(doc_id, nfeat, score). */
  private val Q87_SCORE_CTE =
    """dtok AS (SELECT doc_id, source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |sfeat AS (SELECT doc_id, source = 'src0' AS pos,
      |    unnest(list_concat(toks,
      |      list_transform(range(len(toks)-1),
      |        i -> toks[i+1] || ' ' || toks[i+2]))) AS f
      |  FROM dtok WHERE doc_id % 7 = 0),
      |sfb AS (SELECT doc_id, pos,
      |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 512 AS b
      |  FROM sfeat),
      |cnt AS (SELECT b, COUNT(*) AS cr,
      |    COUNT(*) FILTER (WHERE pos) AS cp
      |  FROM sfb GROUP BY 1),
      |dom AS (SELECT range AS b FROM range(512)),
      |fullb AS (SELECT dom.b, COALESCE(cnt.cr, 0) AS cr,
      |    COALESCE(cnt.cp, 0) AS cp
      |  FROM dom LEFT JOIN cnt USING (b)),
      |tots AS (SELECT SUM(cp) AS tp, SUM(cr) - SUM(cp) AS tn FROM fullb),
      |model AS (SELECT b,
      |    CAST(round(ln(CAST(cp + 1 AS DOUBLE) /
      |      CAST(tp + 512 AS DOUBLE)), 9) AS DECIMAL(30,9)) -
      |    CAST(round(ln(CAST(cr - cp + 1 AS DOUBLE) /
      |      CAST(tn + 512 AS DOUBLE)), 9) AS DECIMAL(30,9)) AS w
      |  FROM fullb CROSS JOIN tots),
      |feat AS (SELECT doc_id,
      |    unnest(list_concat(toks,
      |      list_transform(range(len(toks)-1),
      |        i -> toks[i+1] || ' ' || toks[i+2]))) AS f
      |  FROM dtok),
      |fb AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 512 AS b
      |  FROM feat),
      |pooled AS (SELECT fb.doc_id, COUNT(*) AS nfeat, SUM(model.w) AS s
      |  FROM fb JOIN model USING (b) GROUP BY 1),
      |scored AS (SELECT d.doc_id,
      |    COALESCE(p.nfeat, 0) AS nfeat,
      |    round(1.0 / (1.0 + exp(-(0.0 +
      |      COALESCE(CAST(p.s AS DOUBLE) / CAST(p.nfeat AS DOUBLE),
      |        0.0)))), 9) + 0.0 AS score
      |  FROM documents d LEFT JOIN pooled p USING (doc_id))""".stripMargin

  /** DSIR weight table (q73/q79 shared prefix): hashed unigram+bigram
    * bucket models, add-one smoothing, round-9 DECIMAL log-ratio sum;
    * ends in w(doc_id, nfeat, log_weight) over NON-target docs. */
  private val DSIR_W_CTE =
    """dtok AS (SELECT doc_id, source,
      |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |feat AS (SELECT doc_id, source = 'src0' AS tgt,
      |    unnest(list_concat(toks,
      |      list_transform(range(len(toks)-1),
      |        i -> toks[i+1] || ' ' || toks[i+2]))) AS f
      |  FROM dtok),
      |fb AS (SELECT doc_id, tgt,
      |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM feat),
      |cr AS (SELECT b, COUNT(*) AS cr FROM fb GROUP BY 1),
      |ct AS (SELECT b, COUNT(*) AS ct FROM fb WHERE tgt GROUP BY 1),
      |tr AS (SELECT SUM(cr) AS tr FROM cr),
      |tt AS (SELECT COALESCE(SUM(ct), 0) AS tt FROM ct),
      |lp AS (SELECT fb.doc_id, fb.tgt,
      |    CAST(round(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) /
      |      CAST(tt.tt + 1024 AS DOUBLE)), 9) AS DECIMAL(30,9)) -
      |    CAST(round(ln(CAST(cr.cr + 1 AS DOUBLE) /
      |      CAST(tr.tr + 1024 AS DOUBLE)), 9) AS DECIMAL(30,9)) AS lp
      |  FROM fb JOIN cr USING (b) LEFT JOIN ct USING (b)
      |  CROSS JOIN tr CROSS JOIN tt),
      |w AS (SELECT doc_id, COUNT(*) AS nfeat,
      |    CAST(SUM(lp) AS DOUBLE) AS log_weight
      |  FROM lp WHERE NOT tgt GROUP BY 1)""".stripMargin

  val all: Seq[Query] = Seq(
    // LLM curation — benchmark DECONTAMINATION: drop corpus docs whose
    // 3-gram Jaccard to ANY doc of a (small) benchmark set reaches 0.5
    // (eval material must not leak into training data; shingle overlap
    // catches light paraphrase that exact matching misses). The
    // benchmark set is synthesized as every 97th doc, so each matches
    // itself at J=1 and the near-dups of those docs surface below it.
    // The result is the dropped-manifest (who leaked what, at what
    // similarity) — the kept corpus is its anti-join complement.
    Query("q42_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val contam = docs.filter(col("doc_id") % 97 === 0)
      val (_, dropped) = Curation.decontaminate(docs, "doc_id", "text",
        contam, "doc_id", "text", n = 3, t = 0.5)
      dropped.orderBy(col("id"))
    },
      s"""WITH $SHINGLES_CTE,
        |contam AS (SELECT doc_id AS cid, s AS cs, sz AS csz
        |           FROM shz WHERE doc_id % 97 = 0),
        |ov AS (
        |  SELECT a.doc_id AS id, c.cid,
        |    len(list_intersect(a.s, c.cs)) AS inter, a.sz, c.csz
        |  FROM shz a, contam c),
        |sc AS (
        |  SELECT id, cid,
        |    CAST(inter AS DOUBLE) / CAST(sz + csz - inter AS DOUBLE) AS j
        |  FROM ov
        |  WHERE CAST(inter AS DOUBLE) / CAST(sz + csz - inter AS DOUBLE) >= 0.5),
        |r AS (SELECT id, cid, j,
        |        row_number() OVER (PARTITION BY id ORDER BY j DESC, cid) AS rk
        |      FROM sc)
        |SELECT id, cid AS contaminant_id, j AS contaminant_jaccard
        |FROM r WHERE rk = 1
        |ORDER BY id""".stripMargin),

    // LLM curation — domain balancing: keep the top-10 longest docs
    // per source (the standard "best N per domain" mixing step),
    // deterministic under ties via the doc_id tie-breaker.
    Query("q43_domain_quota", (s, dir) => {
      Curation.capPerGroup(Tables.documents(s, dir), Seq("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), quota = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
    },
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars
        |FROM r WHERE rk <= 10
        |ORDER BY source, n_chars DESC, doc_id""".stripMargin),

    // LLM curation capstone — the full pipeline COMPOSED end-to-end:
    // exact dedup (keep min-id per normalized text — capPerGroup with
    // quota 1 over the norm key), benchmark decontamination, a quality
    // floor (n_chars), then the per-source quota. Each stage is the
    // already-gated operator; this query gates their composition.
    Query("q44_curation_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // group by the sha2 of the normalized text, not the text itself:
      // the dedup window's shuffle then carries a 64-char digest per
      // row instead of whole documents (same grouping modulo sha2
      // collisions — the standard content-hash dedup key, as in
      // Dedup.exact)
      val canon = Curation.canonicalizeBy(
          docs.withColumn("__nt",
            sha2(graft.functions.normText(col("text")), 256)),
          Seq("__nt"), col("doc_id"))
        .drop("__nt")
      val contam = docs.filter(col("doc_id") % 97 === 0)
      val (clean, _) = Curation.decontaminate(canon, "doc_id", "text",
        contam, "doc_id", "text", n = 3, t = 0.5)
      Curation.capPerGroup(clean.filter(col("n_chars") >= 500),
          Seq("source"), Seq(col("n_chars").desc, col("doc_id").asc),
          quota = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
    },
      """WITH norm AS (
        |  SELECT *, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rk
        |    FROM norm) WHERE rk = 1),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM canon),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(len(toks)-2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
        |  FROM tok WHERE len(toks) >= 3),
        |shz AS (SELECT doc_id, s, len(s) AS sz FROM sh),
        |ctok AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE doc_id % 97 = 0),
        |csh AS (SELECT doc_id AS cid,
        |  list_distinct(list_transform(range(len(toks)-2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS cs
        |  FROM ctok WHERE len(toks) >= 3),
        |cshz AS (SELECT cid, cs, len(cs) AS csz FROM csh),
        |contaminated AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM shz a, cshz c
        |  WHERE CAST(len(list_intersect(a.s, c.cs)) AS DOUBLE) /
        |        CAST(a.sz + c.csz - len(list_intersect(a.s, c.cs)) AS DOUBLE)
        |        >= 0.5),
        |clean AS (
        |  SELECT * FROM canon
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |    AND n_chars >= 500),
        |q AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM clean)
        |SELECT source, doc_id, n_chars
        |FROM q WHERE rk <= 10
        |ORDER BY source, n_chars DESC, doc_id""".stripMargin),

    // The CAPSTONE v2 — the full curation chain with every family this
    // round added, composed from individually-gated operators and gated
    // AGAIN as a composition against one DuckDB CTE chain: exact
    // content dedup (digest-keyed) → containment drop (excerpts of
    // surviving docs) → benchmark decontamination → repetition gate
    // (top-token share ≤ 0.12 — the discriminating signal on this
    // corpus; dup-ngram rate is ~0 on near-random synthetic text) →
    // deterministic stratified mixture → per-source quota.
    Query("q50_curation_v2", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // canon feeds THREE consumers (the containment join's shingle +
      // text sides and the anti-join) — persisted, or every consumer
      // re-executes the whole upstream dedup window (the unpersisted
      // plan carried 235 Exchange nodes; persisted, 8.4 s → 5.6 s at
      // sf0.1). The rest of the chain is linear — no other stage has a
      // second consumer, so nothing else caches — and the final
      // materializeAndRelease frees canon before returning (Verify
      // runs all queries in one session with no per-query cache clear).
      val canon = Curation.canonicalizeBy(
          docs.withColumn("__nt",
            sha2(graft.functions.normText(col("text")), 256)),
          Seq("__nt"), col("doc_id"))
        .drop("__nt").persist()
      // ONE corpus tokenize+shingle pass (guide §2.4: remove whole
      // passes): r15's shape built the hashed-shingle table twice —
      // containmentJoin over canon, then decontaminate re-shingled
      // noExcerpts ⊆ canon (~2.5 s of the query's 3.7 s, and a doubled
      // full-corpus pass at production scale). canon's shingles are
      // built once here; noExcerpts' rows are derived by id anti-join
      // (shingling is per-row, so the derived table is row-identical
      // to re-shingling — ShingleSeamSpec pins both operator parities).
      val canonSh = Dedup.hashedShingles(canon, "doc_id", "text", n = 3,
        materialize = false)
      // contained feeds TWO consumers (the anti-join on canon and the
      // shingle-side anti-join) — materialized small id list
      val contained = Dedup.materializeAndRelease(
        Dedup.containmentJoinPreShingled(canonSh, canon, "doc_id", "text")
          .select(col("id_a").as("doc_id")).distinct())
      val noExcerpts = canon.join(contained, Seq("doc_id"), "left_anti")
      val noExSh = canonSh.join(
        contained.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      val contam = docs.filter(col("doc_id") % 97 === 0)
      val (clean, _) = Curation.decontaminatePreShingled(noExSh, noExcerpts,
        "doc_id", contam, "doc_id", "text", n = 3, t = 0.5)
      val gated = TextAnalysis.withRepetitionStats(clean, "text", n = 3)
        .filter(col("top_token_ratio") <= 0.12)
        .drop("ntok", "dup_ngram_rate", "top_token_ratio")
      val mixed = Curation.sampleStratified(gated, "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0), defaultRate = 0.5)
      val out = Curation.capPerGroup(mixed, Seq("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), quota = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
      Dedup.materializeAndRelease(out, canon, canonSh, contained)
    },
      """WITH norm AS (
        |  SELECT *, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |canon AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rk
        |    FROM norm) WHERE rk = 1),
        |el AS (SELECT doc_id, nt FROM canon
        |       WHERE len(string_split(nt, ' ')) >= 3),
        |contained AS (
        |  SELECT DISTINCT a.doc_id FROM el a JOIN el b ON a.doc_id != b.doc_id
        |  WHERE (len(a.nt) < len(b.nt)
        |         OR (len(a.nt) = len(b.nt) AND a.doc_id < b.doc_id))
        |    AND position((' ' || a.nt || ' ') IN (' ' || b.nt || ' ')) > 0),
        |nx AS (SELECT * FROM canon
        |       WHERE doc_id NOT IN (SELECT doc_id FROM contained)),
        |tok AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM nx),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(len(toks)-2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
        |  FROM tok WHERE len(toks) >= 3),
        |shz AS (SELECT doc_id, s, len(s) AS sz FROM sh),
        |ctok AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE doc_id % 97 = 0),
        |csh AS (SELECT doc_id AS cid,
        |  list_distinct(list_transform(range(len(toks)-2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS cs
        |  FROM ctok WHERE len(toks) >= 3),
        |cshz AS (SELECT cid, cs, len(cs) AS csz FROM csh),
        |contaminated AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM shz a, cshz c
        |  WHERE CAST(len(list_intersect(a.s, c.cs)) AS DOUBLE) /
        |        CAST(a.sz + c.csz - len(list_intersect(a.s, c.cs)) AS DOUBLE)
        |        >= 0.5),
        |clean AS (
        |  SELECT * FROM nx
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |reptok AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM clean),
        |rep AS (
        |  SELECT doc_id FROM reptok
        |  WHERE CAST(list_max(list_transform(list_distinct(toks),
        |          t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) <= 0.12),
        |mixed AS (
        |  SELECT * FROM clean
        |  WHERE doc_id IN (SELECT doc_id FROM rep)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      CASE source WHEN 'src0' THEN '80000000'
        |                  WHEN 'src1' THEN '40000000'
        |                  WHEN 'src2' THEN '00000000'
        |                  ELSE '80000000' END),
        |q AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM mixed)
        |SELECT source, doc_id, n_chars
        |FROM q WHERE rk <= 10
        |ORDER BY source, n_chars DESC, doc_id""".stripMargin),

    // LLM curation 3 — deterministic stratified mixture sampling:
    // downsample hot sources, drop one outright, default-rate the rest.
    // The md5-prefix coin makes the kept ROW SET (not just the counts)
    // engine-reproducible, so the DuckDB twin checks it exactly; a pure
    // per-row predicate — no shuffle, partition-layout independent.
    Query("q46_stratified_sample", (s, dir) => {
      Curation.sampleStratified(Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0),
          defaultRate = 0.125)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // thresholds are floor(rate·2³²) in zero-padded lowercase hex:
      // 0.5 → 80000000, 0.25 → 40000000, 0.0 → 00000000 (drops the
      // stratum: no md5 prefix sorts below it), default 0.125 → 20000000
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN '80000000'
        |              WHEN 'src1' THEN '40000000'
        |              WHEN 'src2' THEN '00000000'
        |              ELSE '20000000' END
        |ORDER BY doc_id""".stripMargin),

    // LLM curation 6 — PII redaction (C4/Dolma-class scrub): emails,
    // IPv4, internationally-prefixed phones → typed placeholders, with
    // per-row raw-text match counts as the audit trail. The synthetic
    // corpus carries no PII, so the query INJECTS deterministic
    // doc_id-derived PII in both engines first — the redaction then
    // has real work and the twin checks text AND counts hash-exactly.
    Query("q57_pii_redaction", (s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"), lit(".7 or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      Curation.redactPii(aug, "text")
        .select(col("doc_id"), col("text"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_phones").cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    },
      // counts are over the RAW augmented text; replacement order
      // email -> ip -> phone is part of the contract in both engines
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com via 10.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.' || CAST(doc_id % 100 AS VARCHAR) || '.7 or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |, steps AS (
        |  -- progressive redaction: each pattern is COUNTED on the text
        |  -- as it stands when its replacement runs, so the audit
        |  -- columns are exact replacement counts (mirrors redactPii)
        |  SELECT doc_id, text AS t0,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM aug)
        |, steps2 AS (
        |  SELECT doc_id, t0, t1,
        |    regexp_replace(t1,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM steps)
        |SELECT doc_id,
        |  regexp_replace(t2,
        |    '\+\d{1,3}[- ]\d{3,4}[- ]\d{3,4}\b', '<PHONE>', 'g') AS text,
        |  len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t1,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(t2,
        |    '\+\d{1,3}[- ]\d{3,4}[- ]\d{3,4}\b')) AS n_phones
        |FROM steps2
        |ORDER BY doc_id""".stripMargin),

    // Source format — WARC (ISO 28500, the Common Crawl container):
    // documents serialized into 16 WARC file streams (one per bucket,
    // the segment-sharding shape) and parsed back by the distributed
    // flatMap. The gate is ROUND-TRIP IDENTITY: parse(write(docs))
    // must reproduce the table, so the DuckDB twin is the flat table.
    Query("q72_warc_roundtrip", (s, dir) => {
      import s.implicits._
      val files = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey { case (id, _) => id % 16 }
        .mapGroups { (bucket, rows) =>
          val recs = rows.toSeq.sortBy(_._1).map { case (id, text) =>
            ("conversion", s"urn:doc:$id", s"<urn:uuid:$id>",
              Option(text).getOrElse("").getBytes("UTF-8"))
          }
          (bucket, sources.Warc.writeRecords(recs))
        }
        .toDF("file_id", "payload")
      sources.Warc.records(files, "file_id", "payload")
        .map { case (_, r) =>
          (r.target_uri.stripPrefix("urn:doc:").toLong,
            new String(r.body, "UTF-8"), r.content_length)
        }
        .toDF("doc_id", "text", "content_length")
        .orderBy(col("doc_id"))
    },
      // round-trip identity: the twin is the flat table (content_length
      // = UTF-8 byte length, which strlen measures)
      """SELECT doc_id, text,
        |  CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // DSIR-style importance selection: hashed unigram+bigram bucket
    // models (target = src0's docs, raw = the whole corpus), add-one
    // smoothing, per-feature round-9 DECIMAL log-ratio sum — then the
    // selection policy: top-100 NON-target docs by weight. The rank
    // window runs over the already-limited 100-row set (orderBy+limit
    // plans as TakeOrderedAndProject — the scale path; the global
    // window is only ever applied to k rows).
    Query("q73_dsir_select", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // session-shared DSIR weight table (estimate once, sample many)
      val w = sharedDsirWeights(s, dir)
      val raw = w.join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .filter(col("source") =!= "src0")
      val top = raw
        .orderBy(col("log_weight").desc, col("id").asc)
        .limit(100)
      top
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("log_weight").desc, col("id").asc)))
        .select(col("id").as("doc_id"), col("nfeat"),
          col("log_weight"), col("rk"))
        .orderBy(col("rk"))
    },
      // identical feature spec (unigrams + bigrams WITH multiplicity,
      // md5/8-hex bucket mod 1024), add-one smoothing, per-feature
      // round-9 DECIMAL log-ratio — so the weights AND the top-100
      // selection hash-match
      s"""WITH $DSIR_W_CTE
        |SELECT doc_id, nfeat, log_weight,
        |  CAST(row_number() OVER (ORDER BY log_weight DESC, doc_id)
        |    AS INTEGER) AS rk
        |FROM w
        |ORDER BY log_weight DESC, doc_id
        |LIMIT 100""".stripMargin),

    // Capstone v4 — the WEB pipeline end-to-end, from container bytes
    // to curated corpus: WARC serialize+parse (the q72 identity, now
    // with real URLs) → host extraction from the URI → row-local
    // quality gates (n_tokens ≥ 20, type-token ratio ≥ 0.4) → exact
    // dedup (canonical min-id per normalized content hash) → benchmark
    // decontamination (3-shingle Jaccard ≥ 0.5 vs the id%97 contam
    // set) → per-host quota (top-10 longest). Stage order: cheap
    // per-row gates first, dedup before the expensive shingle join,
    // quota last — the order a 100 TB run wants.
    Query("q75_web_pipeline", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val files = docs.as[(Long, String)]
        .groupByKey { case (id, _) => id % 16 }
        .mapGroups { (bucket, rows) =>
          val recs = rows.toSeq.sortBy(_._1).map { case (id, text) =>
            ("conversion", s"https://d${id % 37}.example.com/doc/$id",
              s"<urn:uuid:$id>",
              Option(text).getOrElse("").getBytes("UTF-8"))
          }
          (bucket, sources.Warc.writeRecords(recs))
        }
        .toDF("file_id", "payload")
      val parsed = sources.Warc.records(files, "file_id", "payload")
        .map { case (_, r) => (r.target_uri, new String(r.body, "UTF-8")) }
        .toDF("uri", "text")
        .select(
          element_at(split(col("uri"), "/"), 5).cast("long").as("doc_id"),
          element_at(split(col("uri"), "/"), 3).as("host"),
          col("text"))
      val st = operators.TextAnalysis.tokenStats(col("text"))
      // gated feeds THREE consumers (the dedup scan, the canonical
      // semi-join, and decontaminate's kept-side anti-join) — without
      // the persist each one re-runs the WARC serialize+parse
      // mapGroups, the most expensive stage of the pipeline (measured
      // 4.7 s → ~3 s at sf0.1); materializeAndRelease frees it before
      // returning, per the repo's persist/release rule
      val gated = parsed
        .withColumn("n_tokens", st.getField("n_tokens").cast("long"))
        .withColumn("__ttr", st.getField("type_token_ratio"))
        .filter(col("n_tokens") >= 20 && col("__ttr") >= 0.4)
        .drop("__ttr")
        .persist()
      val canon = operators.Dedup.exact(gated, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      val unique = gated.join(canon, Seq("doc_id")) // semi on canonicals
      val contam = Tables.documents(s, dir).filter(col("doc_id") % 97 === 0)
      val (clean, _) = operators.Curation.decontaminate(unique,
        "doc_id", "text", contam, "doc_id", "text", n = 3, t = 0.5)
      val out = operators.Curation.capPerGroup(clean, Seq("host"),
          Seq(length(col("text")).desc, col("doc_id").asc), quota = 10)
        .select(col("doc_id"), col("host"), col("n_tokens"))
        .orderBy(col("doc_id"))
      operators.Dedup.materializeAndRelease(out, gated)
    },
      // same chain: uri synth + split-parse (round trip is identity per
      // q72), tokenize-once gates, min-id-per-normalized-text dedup,
      // 3-shingle Jaccard decontam (q42 fragment), per-host quota window
      """WITH base AS (SELECT doc_id,
        |    'https://d' || CAST(doc_id % 37 AS VARCHAR) ||
        |      '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    text
        |  FROM documents),
        |parsed AS (SELECT
        |    CAST(string_split(uri, '/')[5] AS BIGINT) AS doc_id,
        |    string_split(uri, '/')[3] AS host, text
        |  FROM base),
        |tok AS (SELECT doc_id, host, text,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM parsed),
        |gated AS (SELECT doc_id, host, text, toks,
        |    len(toks) AS n_tokens
        |  FROM tok
        |  WHERE len(toks) >= 20
        |    AND CAST(len(list_distinct(toks)) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) >= 0.4),
        |dd AS (SELECT *, row_number() OVER (
        |    PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    ORDER BY doc_id) AS drk
        |  FROM gated),
        |u AS (SELECT doc_id, host, text, toks, n_tokens
        |  FROM dd WHERE drk = 1),
        |sh_u AS (SELECT doc_id,
        |    list_distinct(list_transform(range(len(toks)-2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
        |  FROM u WHERE len(toks) >= 3),
        |sh_c AS (SELECT t.doc_id,
        |    list_distinct(list_transform(range(len(t.toks)-2),
        |      i -> t.toks[i+1] || ' ' || t.toks[i+2] || ' ' || t.toks[i+3])) AS s
        |  FROM tok t WHERE t.doc_id % 97 = 0 AND len(t.toks) >= 3),
        |drop_ids AS (SELECT DISTINCT a.doc_id
        |  FROM sh_u a JOIN sh_c c ON
        |    CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(c.s) - len(list_intersect(a.s, c.s))
        |      AS DOUBLE) >= 0.5),
        |clean AS (SELECT u.* FROM u
        |  WHERE u.doc_id NOT IN (SELECT doc_id FROM drop_ids)),
        |q AS (SELECT doc_id, host, n_tokens,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY length(text) DESC, doc_id) AS qrk
        |  FROM clean)
        |SELECT doc_id, host, n_tokens
        |FROM q WHERE qrk <= 10
        |ORDER BY doc_id""".stripMargin),

    // DSIR complete: the q73 weights fed through the Gumbel-top-k
    // resampler (a softmax-weighted 100-sample without replacement,
    // drawn by the md5 coin — engine-exact). The rank window again
    // runs over the already-limited 100 rows.
    Query("q79_dsir_gumbel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // session-shared DSIR weight table (estimate once, sample many)
      val w = sharedDsirWeights(s, dir)
      val raw = w.join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .filter(col("source") =!= "src0")
      operators.Curation.gumbelTopK(raw, "id", "log_weight",
          k = 100, salt = "dsir-r7")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("gumbel_score").desc, col("id").asc)))
        .select(col("id").as("doc_id"), col("log_weight"),
          col("gumbel"), col("gumbel_score"), col("rk"))
        .orderBy(col("rk"))
    },
      // the same weight CTE chain, then the md5-Gumbel draw:
      // u = (h32 + 0.5)/2^32, g = round9(-ln(-ln u)), top-100 by
      // (log_weight + g) — the drawn sample set is engine-exact
      s"""WITH $DSIR_W_CTE,
        |g AS (SELECT doc_id, log_weight,
        |    round(-ln(-ln(
        |      (CAST(('0x' || substr(md5('dsir-r7#' ||
        |         CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |      / 4294967296.0)), 9) AS gumbel
        |  FROM w)
        |SELECT doc_id, log_weight, gumbel,
        |  log_weight + gumbel AS gumbel_score,
        |  CAST(row_number() OVER (ORDER BY log_weight + gumbel DESC,
        |    doc_id) AS INTEGER) AS rk
        |FROM g
        |ORDER BY gumbel_score DESC, doc_id
        |LIMIT 100""".stripMargin),

    // LLM quality 4 — the LINEAR quality classifier (fastText/CCNet
    // class), both halves: closed-form naive-Bayes log-odds weights
    // over 512 hashed unigram+bigram buckets, trained on a
    // deterministic labeled seed (every 7th doc; "positive" = src0),
    // then EVERY document scored by the broadcast-model mean-pooled
    // dot product + sigmoid and gated at 0.5 — the standard learned
    // quality gate web pipelines run after the heuristic one (q39).
    // The q73 hashed-feature machinery, shared code path.
    Query("q87_linear_quality", (s, dir) => {
      // session-shared classifier scores (train+score once per corpus)
      sharedQualityScores(s, dir)
        .select(col("id").as("doc_id"), col("nfeat"), col("score"),
          (col("score") >= 0.5).as("kept"))
        .orderBy(col("doc_id"))
    },
      // the classifier twin: same seed split, same closed-form
      // naive-Bayes bucket weights (DECIMAL round-9), same mean-pooled
      // sigmoid — both halves of q87 re-derived end-to-end in SQL
      s"""WITH $Q87_SCORE_CTE
        |SELECT doc_id, nfeat, score, score >= 0.5 AS kept
        |FROM scored
        |ORDER BY doc_id""".stripMargin),

    // LLM quality 5 — CCNet perplexity bucketing (Wenzek et al. 2020):
    // corpus-LM score → head/middle/tail by exact tercile order
    // statistics over a fixed-size id-stride sample (never a global
    // sort) → per-bucket md5-coin sampling (head kept, middle 1/2,
    // tail 1/10). The step between language ID and the training mix in
    // every public web-corpus pipeline.
    Query("q88_perplexity_buckets", (s, dir) => {
      // session-shared LM scores (q66 gates unigramLogProb live)
      Curation.perplexityBucketsWith(sharedLmScores(s, dir),
          sampleCap = 1000L,
          rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1))
        .select(col("id").as("doc_id"), col("bucket"),
          col("nll_mean_nano"), col("ntok"))
        .orderBy(col("doc_id"))
    },
      // the CCNet bucketing twin: q66's LM CTEs, then the same
      // stride-sample → row_number tercile order statistics → bucket →
      // md5-coin chain (rate hexes: 1.0 → 'g', 0.5 → 0x80000000,
      // 0.1 → trunc(0.1·2^32) = 0x19999999)
      """WITH tok AS (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM tok),
        |scored AS (
        |  SELECT doc_id, COUNT(*) AS ntok,
        |    CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) /
        |      CAST(total AS DOUBLE)), 9) AS DECIMAL(30,9)))
        |      * -1000000000 AS BIGINT) // COUNT(*) AS nll_mean_nano
        |  FROM tok JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id),
        |n AS (SELECT COUNT(*) AS n FROM scored),
        |stride AS (SELECT GREATEST(1, (n + 999) // 1000) AS s FROM n),
        |samp AS (SELECT nll_mean_nano FROM scored, stride
        |  WHERE doc_id % s = 0),
        |m AS (SELECT COUNT(*) AS m FROM samp),
        |ks AS (SELECT GREATEST(1, (m + 2) // 3) AS k1,
        |    GREATEST(1, (2 * m + 2) // 3) AS k2 FROM m),
        |ranked AS (SELECT nll_mean_nano,
        |    row_number() OVER (ORDER BY nll_mean_nano) AS r FROM samp),
        |thr AS (SELECT
        |    MIN(CASE WHEN r = k1 THEN nll_mean_nano END) AS t1,
        |    MIN(CASE WHEN r = k2 THEN nll_mean_nano END) AS t2
        |  FROM ranked, ks),
        |b AS (SELECT doc_id, ntok, nll_mean_nano,
        |    CASE WHEN nll_mean_nano <= t1 THEN 'head'
        |         WHEN nll_mean_nano <= t2 THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM scored, thr)
        |SELECT doc_id, bucket, nll_mean_nano, ntok FROM b
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE bucket WHEN 'head' THEN 'g'
        |              WHEN 'middle' THEN '80000000'
        |              ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin),

    // LLM curation 10 — URL canonicalization + host blocklist (the
    // C4/RefinedWeb front gate): messy synthetic URLs (mixed case,
    // www, explicit :443, tracking params, fragments) derived
    // deterministically from the documents table, normalized by the
    // RE2-portable regex chain, then the src2 host family dropped by
    // the IN-list gate. Both engines run the identical regexes.
    Query("q89_url_blocklist", (s, dir) => {
      val withUrl = Tables.documents(s, dir)
        .withColumn("url", concat(
          lit("HTTPS://WWW."), col("source"), lit("-"),
          (col("doc_id") % 5).cast("string"),
          lit(".Example.COM:443/Docs/"), col("doc_id").cast("string"),
          lit("/?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
          lit("&ref=tracker#sec-"), col("lang")))
      Curation.filterBlockedHosts(withUrl, "url",
          blocked = (0 until 5).map(k => s"src2-$k.example.com"))
        .select(col("doc_id"), col("canonical_url"), col("host"))
        .orderBy(col("doc_id"))
    },
      // the URL gate twin: the IDENTICAL RE2-portable regex chain, step
      // for step ('g' flag — Spark's regexp_replace is always global)
      """WITH u0 AS (SELECT doc_id,
        |    'HTTPS://WWW.' || source || '-' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR) ||
        |    '/?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '&ref=tracker#sec-' || lang AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u
        |  FROM u0),
        |u2 AS (SELECT doc_id,
        |    lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))
        |    || regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', '', 'g')
        |    AS u FROM u1),
        |u3 AS (SELECT doc_id,
        |    regexp_replace(u, '^https://', 'http://', 'g') AS u FROM u2),
        |u4 AS (SELECT doc_id,
        |    regexp_replace(u, '^(http://)www\.', '\1', 'g') AS u FROM u3),
        |u5 AS (SELECT doc_id, regexp_replace(u,
        |    '^(http://[^/:?]*):(80|443)([/?].*)?$', '\1\3', 'g') AS u
        |  FROM u4),
        |u6 AS (SELECT doc_id, regexp_replace(u, '\?', '?&', 'g') AS u
        |  FROM u5),
        |u7 AS (SELECT doc_id, regexp_replace(u,
        |    '&(utm_[^&=]*|ref|fbclid|gclid)=[^&]*', '', 'g') AS u FROM u6),
        |u8 AS (SELECT doc_id, regexp_replace(u, '\?&', '?', 'g') AS u
        |  FROM u7),
        |u9 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '', 'g') AS u
        |  FROM u8),
        |uA AS (SELECT doc_id, regexp_replace(u, '/$', '', 'g') AS u
        |  FROM u9),
        |g AS (SELECT doc_id, u AS canonical_url,
        |    regexp_extract(u, '^http://([^/:?]*)', 1) AS host FROM uA)
        |SELECT doc_id, canonical_url, host FROM g
        |WHERE host NOT IN ('src2-0.example.com', 'src2-1.example.com',
        |  'src2-2.example.com', 'src2-3.example.com', 'src2-4.example.com')
        |ORDER BY doc_id""".stripMargin),

    // LLM evaluation — CALIBRATION of the learned quality gate: the
    // q87 classifier's scores bucketed into deciles, each with the
    // ACTUAL positive rate (label agreement) and exact-decimal mean
    // score — the reliability diagram that tells a pipeline whether
    // the 0.5 gate threshold means anything. One keyed aggregate over
    // the scored corpus; the model rides the same broadcast as q87.
    Query("q92_quality_calibration", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // session-shared classifier scores (train+score once per corpus)
      sharedQualityScores(s, dir)
        .select(col("id").as("doc_id"), col("score"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(least(floor(col("score") * 10).cast("long"), lit(9L))
          .as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("source") === "src0", 1)).as("n_pos"),
          (count(when(col("source") === "src0", 1)).cast("double") /
            count(lit(1))).as("pos_rate"),
          graft.functions.davg(col("score")).as("mean_score"))
        .orderBy(col("decile"))
    },
      // calibration twin: the shared scoring chain, then the identical
      // decile bucketing (floor of the same doubles) and the exact-sum
      // mean (DSUM/COUNT) + long-ratio positive rate
      s"""WITH $Q87_SCORE_CTE
        |SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS decile,
        |  COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE d.source = 'src0') AS n_pos,
        |  CAST(COUNT(*) FILTER (WHERE d.source = 'src0') AS DOUBLE)
        |    / COUNT(*) AS pos_rate,
        |  ${DAVG("score")} AS mean_score
        |FROM scored JOIN documents d USING (doc_id)
        |GROUP BY 1
        |ORDER BY decile""".stripMargin),

    // LLM curation 11 — the WORDLIST gate (C4's badwords filter, the
    // other half of the C4 front gate next to q89's URL blocklist):
    // count each document's tokens that hit a blockword list, keep
    // docs with zero hits, report the count either way. Pure per-row
    // array filter over the shared tokenizer — codegen'd, no shuffle,
    // composes anywhere. The list here is a neutral stand-in (real
    // deployments plug in the published lists); token-exact matching,
    // not substring, is the deliberate policy (no scunthorpe effect).
    Query("q94_wordlist_gate", (s, dir) => {
      val blocked = Seq("slow", "broken", "panic")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(filter(graft.functions.tokens(col("text")),
            t => t.isin(blocked: _*))).cast("long").as("n_flagged"))
        .withColumn("kept", col("n_flagged") === 0L)
        .orderBy(col("doc_id"))
    },
      // per-token log-prob rounded to 9 dp FIRST, summed as
      // DECIMAL(30,9) (order-independent); the mean is the all-integer
      // floor((-sum*1e9)/ntok) — positive, so // and Spark's div agree
      // token-exact wordlist count over the shared tokenizer
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
        |    t -> t IN ('slow', 'broken', 'panic'))) AS BIGINT) AS n_flagged,
        |  len(list_filter(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
        |    t -> t IN ('slow', 'broken', 'panic'))) = 0 AS kept
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // Capstone v3 — the SESSION family end-to-end: incremental dedup
    // (bloom anti-join vs the even-id history) → context-window
    // chunking (64/48) → unigram-LM gate (keep chunks better than the
    // integer-mean NLL — all-integer threshold, adapts to sf) →
    // temperature mix (alpha=0.5, half budget, md5 coin on the chunk
    // key) → token-budget shard packing per source. One DuckDB
    // CTE-chain twin stitched from the q68/q63/q66/q70/q47 fragments;
    // every stage is individually gated, this pins the COMPOSITION.
    Query("q71_training_capstone", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val h = sha2(graft.functions.normText(col("text")), 256)
      val hist = docs.filter(col("doc_id") % 2 === 0).select(h.as("h"))
      // persisted: chunking AND the source join both read the batch
      val batch = Scale.bloomPrunedAntiJoin(
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("source"), col("text"), h.as("h")),
          "h", hist, "h", expectedKeys = 10000L)
        .drop("h").persist()
      // the LM build and the gate join both read the chunks — but only
      // the LM needs chunk_text, so the persist is the NARROW
      // projection (ckey, source, n_chunk_tok) and the LM streams the
      // text once straight off the cached batch instead: chunk text is
      // corpus-sized and has no business in the cache (r7 carried it
      // through the source join; recompute-narrow beats cache-wide).
      // ckey packs chunk_idx into 3 decimal digits — guarded, because
      // a ≥1000-chunk document (~48k tokens at 64/48 chunking) would
      // silently collide into the next doc_id's key space, and both
      // engines would compute the same wrong answer (the oracle twin
      // mirrors the packing, so the gate could never catch it).
      // chunkDocsToks + the pre-tokenized LM variant: the LM is the
      // only chunk-payload consumer and immediately re-tokenized the
      // space-joined chunk_text, so q71 paid array_join + normText +
      // split over the whole chunk stream for nothing — the slice IS
      // the token array (tokens is a fixed point on its own output;
      // UnigramSeamSpec pins row-identity of the pair against the
      // chunk_text formulation).
      // The source join exists ONLY for the narrow chunks projection;
      // the LM path used to execute it too (and with chunk_toks would
      // carry the token array across it). ckey needs just doc_id +
      // chunk_idx, and batch.doc_id is unique (a filtered primary
      // key), so the join is cardinality-neutral: score the LM off
      // the pre-join chunk stream and join source in only where it is
      // consumed.
      val chunked = Curation.chunkDocsToks(batch, "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        .withColumn("ckey",
          when(assert_true(col("chunk_idx") < 1000,
              lit("q71 ckey packing assumes < 1000 chunks per doc")).isNull,
            col("doc_id") * 1000 + col("chunk_idx")))
      val chunks = chunked
        .join(batch.select(col("doc_id"), col("source")), "doc_id")
        .select(col("ckey"), col("source"), col("n_chunk_tok")).persist()
      val lm = TextAnalysis.unigramLogProbPreTokenized(chunked, "ckey",
        "chunk_toks")
      val thr = lm.agg(
        org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.GraftColumnBridge.expression(
              sum(col("nll_mean_nano"))),
            org.apache.spark.sql.GraftColumnBridge.expression(
              count(lit(1))))).as("__t"))
      val keptKeys = lm.crossJoin(broadcast(thr))
        .filter(col("nll_mean_nano") < col("__t"))
        .select(col("id").as("ckey"))
      val gated = chunks.join(keptKeys, "ckey")
      val mixed = Curation.sampleTemperature(gated, "ckey", "source",
        alpha = 0.5, budgetFraction = 0.5)
      Dedup.materializeAndRelease(
        Curation.packShards(mixed, "source", "ckey", "n_chunk_tok",
            budget = 2000L)
          .select(col("source"), col("ckey"), col("n_chunk_tok"),
            col("shard"))
          .orderBy(col("source"), col("ckey")),
        batch, chunks)
    },
      // the q68/q63/q66/q70/q47 fragments composed as one CTE chain;
      // chunk_text is already-normalized space-joined tokens, so the
      // chunk-level tokenizer is a plain split
      """WITH hist AS (SELECT DISTINCT
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 2 = 1
        |    AND sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |      NOT IN (SELECT h FROM hist)),
        |ta AS (SELECT doc_id, source, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM batch),
        |st AS (SELECT doc_id, source, toks,
        |    unnest(range(0, len(toks), 48)) AS start FROM ta),
        |chunks AS (SELECT
        |    doc_id * 1000 + CAST(start // 48 AS BIGINT) AS ckey,
        |    doc_id, source,
        |    CAST(least(64, len(toks) - start) AS BIGINT) AS n_chunk_tok,
        |    array_to_string(toks[start + 1 : least(start + 64, len(toks))],
        |      ' ') AS chunk_text
        |  FROM st),
        |ctok AS (SELECT ckey, unnest(string_split(chunk_text, ' ')) AS tok
        |  FROM chunks),
        |ccnt AS (SELECT tok, COUNT(*) AS cnt FROM ctok GROUP BY 1),
        |ctot AS (SELECT COUNT(*) AS total FROM ctok),
        |csc AS (SELECT ckey, CAST(round(ln(CAST(cnt AS DOUBLE) /
        |    CAST(total AS DOUBLE)), 9) AS DECIMAL(30,9)) AS lp
        |  FROM ctok JOIN ccnt USING (tok) CROSS JOIN ctot),
        |lm AS (SELECT ckey,
        |    CAST(SUM(lp) * -1000000000 AS BIGINT) // COUNT(*) AS nll
        |  FROM csc GROUP BY 1),
        |thr AS (SELECT CAST(SUM(nll) AS BIGINT) // COUNT(*) AS t FROM lm),
        |gated AS (SELECT c.* FROM chunks c
        |  JOIN lm ON lm.ckey = c.ckey CROSS JOIN thr
        |  WHERE lm.nll < thr.t),
        |mcnt AS (SELECT source, COUNT(*) AS n FROM gated GROUP BY 1),
        |mtot AS (SELECT COUNT(*) AS total FROM gated),
        |mw AS (SELECT source, n, total,
        |    round(pow(CAST(n AS DOUBLE) / CAST(total AS DOUBLE),
        |      CAST(0.5 AS DOUBLE)), 9) AS w
        |  FROM mcnt CROSS JOIN mtot),
        |mws AS (SELECT CAST(SUM(CAST(w AS DECIMAL(20,9))) AS DOUBLE) AS wsum
        |  FROM mw),
        |rates AS (SELECT source,
        |    least(CAST(1.0 AS DOUBLE),
        |      CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE) * (w / wsum) /
        |        CAST(n AS DOUBLE)) AS keep_rate
        |  FROM mw CROSS JOIN mws),
        |mixed AS (SELECT g.* FROM gated g JOIN rates r USING (source)
        |  WHERE CAST(('0x' || substr(md5(CAST(g.ckey AS VARCHAR)), 1, 8))
        |      AS BIGINT)
        |    < CAST(floor(r.keep_rate * 4294967296.0) AS BIGINT))
        |SELECT source, ckey, n_chunk_tok,
        |  CAST(COALESCE(CAST(SUM(n_chunk_tok) OVER (PARTITION BY source
        |    ORDER BY ckey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) // 2000 AS BIGINT) AS shard
        |FROM mixed
        |ORDER BY source, ckey""".stripMargin),

    // LLM curation 9 — temperature-flattened source mixing (mT5/LLaMA
    // α-exponent convention): per-source keep-rates DERIVED FROM THE
    // DATA (α=0.5 flattens, budget = half the corpus), realized by the
    // same pure md5 coin as q46 — the kept ROW SET hash-matches.
    Query("q70_temperature_mix", (s, dir) => {
      Curation.sampleTemperature(Tables.documents(s, dir), "doc_id",
          "source", alpha = 0.5, budgetFraction = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // identical rate arithmetic: round-9 pow, DECIMAL weight sum,
      // one IEEE chain, integer coin vs floor(rate*2^32)
      """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM documents),
        |w AS (SELECT source, n, total,
        |  round(pow(CAST(n AS DOUBLE) / CAST(total AS DOUBLE),
        |    CAST(0.5 AS DOUBLE)), 9) AS w
        |  FROM cnt CROSS JOIN tot),
        |ws AS (SELECT CAST(SUM(CAST(w AS DECIMAL(20,9))) AS DOUBLE) AS wsum
        |  FROM w),
        |rates AS (SELECT source,
        |  least(CAST(1.0 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE) * (w / wsum) /
        |      CAST(n AS DOUBLE)) AS keep_rate
        |  FROM w CROSS JOIN ws)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rates r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT)
        |  < CAST(floor(r.keep_rate * 4294967296.0) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin),

    // LLM curation 8 — deterministic negative-pair sampling
    // (contrastive training data): md5-uniform skip-self draw over the
    // dense id range, partner payload fetched by ONE equi-join. The
    // approximately-random pair SET is exactly reproducible, so it
    // hash-gates like any exact query.
    Query("q67_negative_pairs", (s, dir) => {
      Curation.negativePairs(Tables.documents(s, dir), "doc_id", k = 2,
          payloadCols = Seq("source", "lang"))
        .orderBy(col("doc_id"), col("j"))
    },
      // same md5/15-hex convention; raw mod (n-1) then the skip-self
      // shift — all-integer, so the sampled pair set hash-matches
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |draws AS (
        |  SELECT d.doc_id, CAST(j.j AS INTEGER) AS j,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' ||
        |      CAST(j.j AS VARCHAR)), 1, 15)) AS BIGINT) % (n.n - 1) AS raw
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) j
        |  CROSS JOIN n),
        |neg AS (
        |  SELECT doc_id, j,
        |    CASE WHEN raw >= doc_id THEN raw + 1 ELSE raw END AS neg_id
        |  FROM draws)
        |SELECT neg.doc_id, neg.j, neg.neg_id,
        |  d2.source AS neg_source, d2.lang AS neg_lang
        |FROM neg JOIN documents d2 ON neg.neg_id = d2.doc_id
        |ORDER BY 1, 2""".stripMargin),

    // LLM curation 7 — context-window chunking: 64-token windows at
    // stride 48 (16-token overlap), last window clips. Pure per-row
    // explode, tokenizer materialized once per document (plan-pinned
    // in CurationSpec); the DuckDB twin is the same range/slice
    // construction over its own list type.
    Query("q63_doc_chunks", (s, dir) => {
      Curation.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // same tokenizer; DuckDB range() excludes the end like Spark's
      // sequence(0, n-1); list slice clips like Spark's slice
      """WITH tok AS (SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
        |  FROM tok)
        |SELECT doc_id,
        |  CAST(start // 48 AS BIGINT) AS chunk_idx,
        |  CAST(start AS BIGINT) AS start_tok,
        |  CAST(least(64, len(toks) - start) AS BIGINT) AS n_chunk_tok,
        |  array_to_string(toks[start + 1 : least(start + 64, len(toks))], ' ')
        |    AS chunk_text
        |FROM starts
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // LLM curation 4 — token-budget shard packing: per source, docs in
    // id order pack into ~2000-token shards by exclusive running sum
    // (docs never split; a shard overshoots by at most its last doc).
    // Window twin in DuckDB pins the exact shard assignment.
    Query("q47_token_shards", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val withTok = docs.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCounts(col("text")).getField("n_whitespace")
          .cast("long").as("n_tok"))
      Curation.packShards(withTok, "source", "doc_id", "n_tok",
          budget = 2000L)
        .orderBy(col("source"), col("doc_id"))
    },
      """WITH tok AS (SELECT source, doc_id,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, doc_id, n_tok,
        |  CAST(COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // 2000
        |    AS BIGINT) AS shard
        |FROM tok
        |ORDER BY source, doc_id""".stripMargin),

    // LLM curation 15 — deterministic train/val/test hash split: every
    // doc lands in exactly one named split by the salted md5 coin
    // (prefix-nested boundaries, layout-independent, shuffle-free);
    // the query audits the split as a per-(split, source) manifest —
    // doc and token counts — which is how a pipeline proves its
    // held-out sets are stable and its mix is as configured. The
    // DuckDB twin recomputes the identical coin/CASE chain, so the
    // exact ASSIGNMENT (not just the counts) is oracle-gated through
    // the group keys.
    Query("q95_hash_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.splitByHash(docs, "doc_id",
          Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02))
        .select(col("split"), col("source"),
          TextAnalysis.tokenCounts(col("text")).getField("n_whitespace")
            .cast("long").as("n_tok"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("split"), col("source"))
    }, {
      val t1 = graft.operators.Curation.rateThresholdHex(0.96)
      val t2 = graft.operators.Curation.rateThresholdHex(0.98)
      s"""WITH s AS (SELECT source,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok,
        |  substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) AS coin
        |  FROM documents)
        |SELECT CASE WHEN coin < '$t1' THEN 'train'
        |            WHEN coin < '$t2' THEN 'val'
        |            ELSE 'test' END AS split,
        |  source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY split, source""".stripMargin
    }),

    // LLM curation 16 — SPLIT LEAKAGE report: q38's near-dup pairs
    // labeled with both members' q95 hash-split assignments, collapsed
    // to the unordered split×split matrix with cross-split cells
    // flagged `leaky`. THE audit run before any evaluation on held-out
    // splits: a train↔test near-duplicate inflates eval scores even
    // when exact dedup is clean. Same scale shape as q93 (pair volume
    // stays LSH-output-scaled; the label join is keyed on the narrow
    // (doc_id, split) projection — and the split labels are a pure
    // per-row md5 coin, no extra shuffle to produce them).
    Query("q98_split_leakage", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // session-shared LSH pair graph (q12 gates the banded join live);
      // the seam stays pinned for later consumers, so no release here
      val pairs = sharedLshPairs(s, dir)
      val sp = Curation.splitByHash(docs.select("doc_id"), "doc_id",
          Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02))
      val labeled = pairs
        .join(sp.select(col("doc_id").as("id_a"),
          col("split").as("split_of_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"),
          col("split").as("split_of_b")), "id_b")
      labeled.groupBy(
          least(col("split_of_a"), col("split_of_b")).as("split_a"),
          greatest(col("split_of_a"), col("split_of_b")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
        .orderBy(col("split_a"), col("split_b"))
    }, {
      val t1 = graft.operators.Curation.rateThresholdHex(0.96)
      val t2 = graft.operators.Curation.rateThresholdHex(0.98)
      s"""WITH $BLOCKED_PAIRS_CTE,
        |sp AS (SELECT doc_id,
        |  CASE WHEN substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1' THEN 'train'
        |       WHEN substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents),
        |lab AS (SELECT p.id_a, p.id_b, sa.split AS spa, sb.split AS spb
        |  FROM pairs p
        |  JOIN sp sa ON p.id_a = sa.doc_id
        |  JOIN sp sb ON p.id_b = sb.doc_id)
        |SELECT least(spa, spb) AS split_a, greatest(spa, spb) AS split_b,
        |  COUNT(*) AS n_pairs,
        |  least(spa, spb) <> greatest(spa, spb) AS leaky
        |FROM lab GROUP BY 1, 2, 4
        |ORDER BY split_a, split_b""".stripMargin
    }),

    // LLM curation 17 — train-overlap audit of the val split: per val
    // doc, the fraction of its distinct 3-gram shingles occurring
    // anywhere in train (GPT-3-appendix-style overlap analysis — the
    // aggregate containment stat that catches piecewise leakage q98's
    // pairwise matrix misses). The small val shingle set drives a
    // bloom that prunes the train side before the only keyed shuffle.
    Query("q99_train_overlap", (s, dir) => {
      Curation.splitOverlapAudit(Tables.documents(s, dir), "doc_id", "text",
          Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02),
          n = 3, trainName = "train", auditName = "val")
        .select(col("id").as("doc_id"), col("n_grams"), col("n_in_train"),
          col("overlap_rate"))
        .orderBy(col("doc_id"))
    }, {
      val t1 = graft.operators.Curation.rateThresholdHex(0.96)
      val t2 = graft.operators.Curation.rateThresholdHex(0.98)
      s"""WITH $SHINGLES_CTE,
        |sp AS (SELECT doc_id, s,
        |  CASE WHEN substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t1' THEN 'train'
        |       WHEN substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) < '$t2' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM shz),
        |ex AS (SELECT doc_id, split, unnest(s) AS g FROM sp),
        |tr AS (SELECT DISTINCT g FROM ex WHERE split = 'train')
        |SELECT e.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN t.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_in_train,
        |  CAST(SUM(CASE WHEN t.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS overlap_rate
        |FROM ex e LEFT JOIN tr t USING (g)
        |WHERE e.split = 'val'
        |GROUP BY 1
        |ORDER BY doc_id""".stripMargin
    }),

    // LLM curation 18 — the epoch/repetition PLAN (the recipe table
    // q70's sampler executes): per-source token masses → temperature
    // shares → target tokens under a fixed budget → epoch counts
    // capped at 4. One map-side aggregate + a broadcast 1-row total;
    // output is |sources| rows whatever the corpus size. Exact-decimal
    // q70 arithmetic end to end, so the whole plan is hash-gated.
    Query("q100_epoch_plan", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val withTok = docs.select(col("source"),
        TextAnalysis.tokenCounts(col("text")).getField("n_whitespace")
          .cast("long").as("n_tok"))
      Curation.epochPlan(withTok, "source", "n_tok",
          alpha = 0.5, budgetTokens = 100000L, maxEpochs = 4.0)
        .orderBy(col("source"))
    },
      """WITH tok AS (SELECT source,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |cnt AS (SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM tok),
        |w AS (SELECT source, n_docs, n_tokens, total,
        |  round(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE),
        |    CAST(0.5 AS DOUBLE)), 9) AS weight
        |  FROM cnt CROSS JOIN tot),
        |ws AS (SELECT CAST(SUM(CAST(weight AS DECIMAL(20,9))) AS DOUBLE) AS wsum
        |  FROM w)
        |SELECT source, n_docs, n_tokens, weight,
        |  CAST(floor(CAST(100000 AS DOUBLE) * (weight / wsum)) AS BIGINT)
        |    AS target_tokens,
        |  round(least(CAST(4.0 AS DOUBLE),
        |    CAST(CAST(floor(CAST(100000 AS DOUBLE) * (weight / wsum)) AS BIGINT)
        |      AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 9) AS epochs
        |FROM w CROSS JOIN ws
        |ORDER BY source""".stripMargin),

    // Packing-efficiency audit over q152's plan: per source — bins
    // used, tail padding, fill rate, boundary-straddling docs. The
    // report read before choosing the context size; one per-shard
    // aggregate over the plan's window output.
    Query("q154_pack_efficiency", (s, dir) => {
      val withTok = Tables.documents(s, dir).select(col("source"),
        col("doc_id"),
        TextAnalysis.tokenCounts(col("text")).getField("n_whitespace")
          .cast("long").as("n_tok"))
      operators.Curation.packEfficiency(withTok, "source", "doc_id",
        "n_tok", binTokens = PackBinTokens)
    },
      s"""WITH tok AS (SELECT source, doc_id,
        |    CAST(len(string_split(lower(trim(
        |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |o AS (SELECT source AS shard, doc_id, n_tok,
        |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS start_tok
        |  FROM tok),
        |p AS (SELECT shard, n_tok,
        |    (start_tok + n_tok - 1) // $PackBinTokens
        |      - start_tok // $PackBinTokens + 1 AS bins_spanned
        |  FROM o),
        |a AS (SELECT shard, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS total_tok,
        |    CAST(SUM(CASE WHEN bins_spanned > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_straddling
        |  FROM p GROUP BY 1),
        |b AS (SELECT shard, n_docs, total_tok, n_straddling,
        |    (total_tok - 1) // $PackBinTokens + 1 AS n_bins
        |  FROM a)
        |SELECT shard, n_docs, total_tok, n_straddling, n_bins,
        |  n_bins * $PackBinTokens - total_tok AS pad_tok,
        |  round(CAST(total_tok AS DOUBLE) /
        |    CAST(n_bins * $PackBinTokens AS DOUBLE), 9) + 0.0 AS fill_rate,
        |  round(CAST(n_straddling AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |    + 0.0 AS straddle_share
        |FROM b ORDER BY shard""".stripMargin),

    // Split mix-preservation audit: per (split, source), observed
    // share within the split vs the source's corpus share, round-9
    // absolute deviation — verifies q95's hash split kept the source
    // mix on THIS corpus. Per-row md5 coin, one cell aggregate,
    // broadcast totals.
    Query("q156_split_balance", (s, dir) =>
      operators.Curation.splitBalance(Tables.documents(s, dir),
        "doc_id", "source",
        Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02)), {
      val t1 = graft.operators.Curation.rateThresholdHex(0.96)
      val t2 = graft.operators.Curation.rateThresholdHex(0.98)
      s"""WITH s AS (SELECT source AS grp,
        |    substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8) AS coin
        |  FROM documents),
        |a AS (SELECT CASE WHEN coin < '$t1' THEN 'train'
        |             WHEN coin < '$t2' THEN 'val'
        |             ELSE 'test' END AS split, grp FROM s),
        |cell AS (SELECT split, grp, COUNT(*) AS n_docs
        |  FROM a GROUP BY 1, 2),
        |ps AS (SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total
        |  FROM cell GROUP BY 1),
        |pg AS (SELECT grp, CAST(SUM(n_docs) AS BIGINT) AS grp_total
        |  FROM cell GROUP BY 1),
        |ct AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS corpus_total
        |  FROM cell),
        |sh AS (SELECT cell.split, cell.grp, cell.n_docs,
        |    round(CAST(cell.n_docs AS DOUBLE) /
        |      CAST(ps.split_total AS DOUBLE), 9) + 0.0 AS obs_share,
        |    round(CAST(pg.grp_total AS DOUBLE) /
        |      CAST(ct.corpus_total AS DOUBLE), 9) + 0.0 AS exp_share
        |  FROM cell JOIN ps USING (split) JOIN pg USING (grp)
        |  CROSS JOIN ct)
        |SELECT split, grp, n_docs, obs_share, exp_share,
        |  round(abs(obs_share - exp_share), 9) + 0.0 AS abs_dev
        |FROM sh ORDER BY split, grp""".stripMargin
    }),

    // Context-window packing plan: per-source concatenation packing of
    // documents into 256-token bins — one spillable per-shard window
    // prefix sum, all-int64 bin arithmetic.
    Query("q152_pack_plan", (s, dir) => {
      val withTok = Tables.documents(s, dir).select(col("source"),
        col("doc_id"),
        TextAnalysis.tokenCounts(col("text")).getField("n_whitespace")
          .cast("long").as("n_tok"))
      operators.Curation.packPlan(withTok, "source", "doc_id", "n_tok",
        binTokens = PackBinTokens)
    },
      s"""WITH tok AS (SELECT source, doc_id,
        |    CAST(len(string_split(lower(trim(
        |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |o AS (SELECT source AS shard, doc_id, n_tok,
        |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS start_tok
        |  FROM tok)
        |SELECT shard, doc_id, n_tok, start_tok,
        |  start_tok // $PackBinTokens AS bin,
        |  start_tok % $PackBinTokens AS bin_pos,
        |  (start_tok + n_tok - 1) // $PackBinTokens
        |    - start_tok // $PackBinTokens + 1 AS bins_spanned
        |FROM o ORDER BY shard, doc_id""".stripMargin),

    // Snapshot diff vs a deterministically derived v2 of the corpus
    // (drop %13, rewrite %7, add %11 under shifted ids): the dataset
    // versioning audit.
    Query("q133_snapshot_diff", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the added-doc id shift derives from the corpus (max+1) so it
      // can never collide with a real id at any scale factor
      val off = d.agg(max(col("doc_id"))).head().getLong(0) + 1
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + lit(off)).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      operators.Curation.snapshotDiff(d, v2, "doc_id", "text")
    },
      """WITH a AS (SELECT doc_id,
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
        |    'new ' || text FROM documents
        |  WHERE doc_id % 11 = 0),
        |b AS (SELECT doc_id,
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM v2),
        |j AS (SELECT a.h AS ha, b.h AS hb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN ha IS NULL THEN 'added'
        |            WHEN hb IS NULL THEN 'removed'
        |            WHEN ha = hb THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |  COUNT(*) AS n_docs
        |FROM j GROUP BY 1
        |ORDER BY status""".stripMargin),

    // Entity-consistent split: q95's hash coin keyed on the ENTITY so
    // every event of a user lands in one split (no cross-split
    // leakage of a user's behavior); per-split event/user manifest.
    Query("q135_entity_split", (s, dir) =>
      operators.Curation.splitByHash(Tables.events(s, dir), "user_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "user")
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("split"), {
      val t1 = graft.operators.Curation.rateThresholdHex(0.9)
      val t2 = graft.operators.Curation.rateThresholdHex(0.95)
      s"""WITH s AS (SELECT user_id,
        |    substr(md5('user#' || CAST(user_id AS VARCHAR)), 1, 8) AS coin
        |  FROM events)
        |SELECT CASE WHEN coin < '$t1' THEN 'train'
        |            WHEN coin < '$t2' THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM s
        |GROUP BY 1
        |ORDER BY split""".stripMargin
    }),

    // Deterministic weighted systematic sample of the corpus by
    // char mass — two-phase distributed prefix sum, zero randomness,
    // inclusion ∝ weight.
    Query("q178_systematic_sample", (s, dir) =>
      operators.Curation.systematicSample(
        Tables.documents(s, dir), "doc_id", "n_chars",
        SampleStrideChars),
      s"""WITH c AS (SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM documents)
        |SELECT doc_id, n_chars, cum AS cum_weight,
        |  cum // $SampleStrideChars AS pick_index
        |FROM c
        |WHERE cum // $SampleStrideChars >
        |  (cum - n_chars) // $SampleStrideChars
        |ORDER BY doc_id""".stripMargin)
  )
}
