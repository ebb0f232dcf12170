package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._
import SparkEntry.{sharedDupPairs, sharedLshPairs}

/** Corpus deduplication: exact, Jaccard, MinHash-LSH, SimHash and
  * sorted-neighborhood pair graphs and the audits that read them, each
  * with its DuckDB twin.
  */
private[graft] object DedupQueries {
  /** q147 sorted-neighborhood parameters: window of 3 sorted records,
    * block on the first 8 normalized chars, sort key 24 chars, keep
    * pairs at ≥ 80% distinct-token Jaccard (integer-compared). */
  private val SnmWindow = 3
  private val SnmPrefixLen = 8
  private val SnmKeyLen = 24
  private val SnmMinJaccardPct = 80
  /** q181 length-band width for the linkage agreement pattern:
    * docs within the same 200-char band "agree" on length. */
  private val LinkLenBandChars = 200L
  /** q194 BFS rounds: 6 reaches every node of the sf0.01/sf0.1
    * blocking graph's hub component (diameter check in DedupSpec);
    * the twin unrolls the SAME count. */
  private val BfsMaxDepth = 6
  private val JACCARD_PAIRS_SQL =
    s"""WITH $BLOCKED_PAIRS_CTE
       |SELECT id_a, id_b, inter, union_sz,
       |  CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) AS jaccard
       |FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of [[graft.operators.Dedup.simhashPortable64]] +
    * [[graft.operators.Dedup.hammingPairs]]: the fingerprint is
    * recomputed bit-for-bit (md5 hex is identical in both engines) and
    * the pair set is brute-forced — which is exactly what the pigeonhole
    * banding provably equals. Generated: 64 majority-vote bit sums.
    */
  private val SIMHASH_SQL: String = {
    val bits = (0 until 32).map { i =>
      s"CASE WHEN sum(CASE WHEN substring(h1, ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
    } ++ (0 until 32).map { i =>
      s"CASE WHEN sum(CASE WHEN substring(h2, ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN CAST(${1L << (i + 32)} AS BIGINT) ELSE 0 END"
    }
    s"""WITH tok AS (SELECT doc_id,
       |  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents),
       |ex AS (SELECT doc_id, unnest(toks) AS tk FROM tok WHERE len(toks) > 0),
       |h AS (SELECT doc_id, md5(tk) AS h1, md5('x' || tk) AS h2 FROM ex),
       |fp AS (SELECT doc_id, ${bits.mkString(" + ")} AS f FROM h GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.f, b.f)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  /** q147 twin, generated from the SAME SnmWindow/SnmPrefixLen/
    * SnmKeyLen/SnmMinJaccardPct constants as the Spark call (ADVICE r9
    * rule): lead(j) per neighbor offset inside the (block, key, id)
    * window, exact distinct-token Jaccard, integer threshold.
    */
  private def snmTwin: String = {
    val leads = (1 until SnmWindow).map(j =>
      s"  lead(doc_id, $j) OVER w AS id$j, lead(toks, $j) OVER w AS tk$j")
      .mkString(",\n")
    val branches = (1 until SnmWindow).map(j =>
      s"""  SELECT doc_id AS a, id$j AS b,
         |    len(list_intersect(toks, tk$j)) AS inter,
         |    len(toks) + len(tk$j) - len(list_intersect(toks, tk$j))
         |      AS union_sz
         |  FROM l WHERE id$j IS NOT NULL""".stripMargin)
      .mkString("\n  UNION ALL\n")
    s"""WITH t AS (SELECT doc_id,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
       |  FROM documents),
       |k AS (SELECT doc_id, substr(nt, 1, $SnmKeyLen) AS key,
       |    substr(nt, 1, $SnmPrefixLen) AS blk,
       |    list_distinct(string_split(nt, ' ')) AS toks
       |  FROM t),
       |l AS (SELECT doc_id, toks,
       |$leads
       |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
       |p AS (
       |$branches)
       |SELECT a, b, inter, union_sz,
       |  round(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE), 9) AS sim
       |FROM p WHERE inter * 100 >= union_sz * $SnmMinJaccardPct
       |ORDER BY a, b""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // LLM dedup 1 — exact content-hash dedup over documents.
    Query("q10_dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("content_hash"))
    },
      """SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |  min(doc_id) AS canonical_id,
        |  COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // LLM dedup 2 — exact n-gram Jaccard similarity self-join with
    // prefix filtering (no crossJoin; inverted index over rare-shingle
    // prefixes). UNCAPPED here: this query is checked against an exact
    // DuckDB Jaccard oracle, and the prefixDfCap dial's exactness is a
    // corpus property (a qualifying pair could in principle overlap
    // only on hot shingles), so the oracle-hash-gated query keeps the
    // unconditional algorithm. The capped variant is gated separately
    // as q40_jaccard_capped (same exact twin — the dial is measured
    // lossless on this corpus, and the gate keeps it that way).
    Query("q11_jaccard_pairs", (s, dir) => {
      Dedup.jaccardSimilarityJoin(Tables.documents(s, dir), "doc_id", "text",
          n = 3, t = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, JACCARD_PAIRS_SQL),

    // LLM dedup 3 — MinHash-LSH banded near-dup with exact verification;
    // same output contract as q11. Bands×rows = 32×2: per-pair miss
    // probability (1 - J²)³² ≤ 1e-4 at J = 0.5 (< 1e-9 at J ≥ 0.7), so
    // the exact-Jaccard oracle is hash-safe; verified identical to q11's
    // exact pair set at sf0.01 AND sf0.1 (deterministic: xxhash64).
    Query("q12_minhash_lsh", (s, dir) => {
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
          n = 3, t = 0.5, bands = 32, rows = 2)
        .orderBy(col("id_a"), col("id_b"))
    }, JACCARD_PAIRS_SQL),

    // LLM dedup 4 — SimHash near-dup (pigeonhole banding + exact
    // hamming), on the PORTABLE md5-derived 64-bit fingerprint so the
    // DuckDB oracle can recompute the exact pair set bit-for-bit
    // (was rows-only in r2; the pigeonhole candidate set is provably
    // complete, so this is a full hash check now).
    Query("q21_simhash", (s, dir) => {
      Dedup.hammingPairs(
          Dedup.simhashPortable64(Tables.documents(s, dir), "doc_id", "text"),
          bits = 64, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, SIMHASH_SQL),

    // LLM dedup 6 — duplicate-cluster canonicalization: connected
    // components over the t=0.5 Jaccard pair graph (component = min
    // reachable doc id), checked against a DuckDB RECURSIVE reachability
    // oracle — an exact cross-engine gate for the label-propagation loop.
    //
    // The pair graph comes from minhashLsh, NOT the uncapped exact
    // prefix join (r5's shape, 10.2 s bench — the round's slowest
    // query): LSH verification is the same exact Jaccard, so the output
    // has zero false positives, and the band dial is sized so the pair
    // sets are equal in practice — 72 bands × 2 rows gives per-pair miss
    // (1 - J²)^72 ≤ 0.75^72 ≈ 1.0e-9 at the J = 0.5 threshold (smaller
    // still for higher J). Deterministic (xxhash64), and the pair set is
    // pinned IDENTICAL to the exact join's at sf0.01 and sf0.1
    // (DedupSpec + local verify r6); the recursive oracle is unchanged.
    Query("q38_dup_components", (s, dir) => {
      // consumes the session-shared LSH pair graph (sharedLshPairs —
      // built once per corpus/dial); q12 gates the banded join live
      Dedup.connectedComponents(sharedLshPairs(s, dir))
        .orderBy(col("id"))
    },
      s"""WITH RECURSIVE $BLOCKED_PAIRS_CTE,
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u AS id, v AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u)
        |SELECT id, least(id, min(r)) AS comp
        |FROM reach GROUP BY id
        |ORDER BY id""".stripMargin),

    // Dial evidence for the prefix df-cap (the q11 algorithm with
    // prefixDfCap=100: shingles appearing in >100 docs are dropped
    // from the INDEX only; every emitted pair is still exact-verified,
    // so the dial can only MISS pairs, never invent them). HASH-GATED
    // against the exact-Jaccard twin (r10; was rows-only): the dial's
    // completeness is a corpus property, and on this corpus the capped
    // pair set measured identical to the exact set at sf0.01 and sf0.1
    // — the oracle turns that measurement into a standing recall=1.0
    // gate (a corpus change that makes the cap lose a pair FAILS the
    // gate loudly, which is exactly what dial evidence should do;
    // DedupSpec independently pins capped ⊆ exact on hostile corpora).
    Query("q40_jaccard_capped", (s, dir) => {
      Dedup.jaccardSimilarityJoin(Tables.documents(s, dir), "doc_id", "text",
          n = 3, t = 0.5, prefixDfCap = Some(100L))
        .orderBy(col("id_a"), col("id_b"))
    },
      // q40 = q11 with the prefix-df-cap dial; the dial can only MISS
      // pairs, and the exact twin gates that it misses none here
      JACCARD_PAIRS_SQL),

    // LLM dedup 7 — exact containment: docs whose normalized token
    // sequence is a word-boundary substring of another doc (quotes,
    // excerpts, partial re-posts — what exact-hash dedup misses; equal
    // texts orient by id). Candidates come from ONE rarest-shingle
    // index entry per doc against the full posting list; verify is an
    // exact sentinel-padded contains. DuckDB twin recomputes the whole
    // relation with position().
    Query("q48_containment", (s, dir) => {
      Dedup.containmentJoin(Tables.documents(s, dir), "doc_id", "text", n = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH t AS (SELECT doc_id,
        |  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |tok AS (SELECT doc_id, nt FROM t
        |        WHERE len(string_split(nt, ' ')) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM tok a JOIN tok b ON a.doc_id != b.doc_id
        |WHERE (len(a.nt) < len(b.nt)
        |       OR (len(a.nt) = len(b.nt) AND a.doc_id < b.doc_id))
        |  AND position((' ' || a.nt || ' ') IN (' ' || b.nt || ' ')) > 0
        |ORDER BY id_a, id_b""".stripMargin),

    // LLM dedup 8 — LINE-level dedup (RefinedWeb/Dolma-class): the
    // boilerplate that document-level dedup cannot touch. The
    // synthetic docs are single-line, so the query builds multi-line
    // docs deterministically in both engines: a cookie banner on every
    // doc, a subscribe prompt on every 5th, a unique footer. At
    // maxDocFreq=10 the banner and the prompt are dropped corpus-wide,
    // the body and footer survive, order is preserved.
    Query("q58_line_dedup", (s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("COOKIE BANNER\n"), col("text"),
          when(col("doc_id") % 5 === 0, lit("\nSUBSCRIBE NOW"))
            .otherwise(lit("")),
          lit("\nfooter "), col("doc_id").cast("string")).as("text"))
      Dedup.dedupLines(aug, "doc_id", "text", maxDocFreq = 10L)
        .orderBy(col("doc_id"))
    },
      // df = distinct docs containing the LINE; parallel unnests zip in
      // DuckDB, string_agg(... ORDER BY pos) preserves original order
      """WITH aug AS (
        |  SELECT doc_id, 'COOKIE BANNER' || chr(10) || text ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'SUBSCRIBE NOW'
        |         ELSE '' END ||
        |    chr(10) || 'footer ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM aug),
        |lines AS (
        |  SELECT doc_id, unnest(arr) AS line,
        |    unnest(range(1, len(arr) + 1)) AS pos
        |  FROM ls),
        |dfreq AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1),
        |kept AS (
        |  SELECT l.* FROM lines l JOIN dfreq d ON l.line = d.line
        |  WHERE d.df <= 10),
        |rebuilt AS (
        |  SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS text,
        |    COUNT(*) AS n_kept_lines
        |  FROM kept GROUP BY doc_id),
        |totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY 1)
        |SELECT t.doc_id,
        |  COALESCE(r.text, '') AS text,
        |  COALESCE(r.n_kept_lines, 0) AS n_kept_lines,
        |  t.n_total - COALESCE(r.n_kept_lines, 0) AS n_dropped_lines
        |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // Repeated-SPAN removal (exact-substring dedup at window
    // granularity): a 16-token boilerplate banner is injected into
    // every third doc (the q58 aug idiom), so window 0 of those docs
    // is corpus-hot and gets cut while each doc's own windows stay
    // aligned and survive
    Query("q83_span_dedup", (s, dir) => {
      val banner = "terms of service apply to this mirror copy of " +
        "the page please do not redistribute ever"
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit(banner + " "), col("text")))
          .otherwise(col("text")).as("text"))
      operators.Dedup.dedupSpans(docs, "doc_id", "text",
          windowTokens = 16, maxDocFreq = 1L)
        .orderBy(col("doc_id"))
    },
      // same banner aug, q63's slice idiom for the 16/16 windows, df by
      // COUNT DISTINCT doc, ordered string_agg reassembly (q58 shape)
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'terms of service apply to this mirror copy of the page please do not redistribute ever '
        |        || text
        |    ELSE text END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM aug),
        |w AS (SELECT doc_id,
        |    CAST(start // 16 AS BIGINT) AS idx,
        |    array_to_string(
        |      toks[start + 1 : least(start + 16, len(toks))], ' ') AS wt
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, len(toks), 16)) AS start
        |        FROM tok)),
        |dfreq AS (SELECT wt, COUNT(DISTINCT doc_id) AS df
        |  FROM w GROUP BY 1),
        |kept AS (SELECT w.* FROM w JOIN dfreq USING (wt) WHERE df <= 1),
        |totals AS (SELECT doc_id, COUNT(*) AS n_total FROM w GROUP BY 1),
        |rebuilt AS (SELECT doc_id,
        |    string_agg(wt, ' ' ORDER BY idx) AS text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY 1)
        |SELECT t.doc_id,
        |  COALESCE(r.text, '') AS text,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept_windows,
        |  CAST(t.n_total - COALESCE(r.n_kept, 0) AS BIGINT)
        |    AS n_dropped_windows
        |FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),

    // LLM dedup 7 — QUALITY-AWARE canonical selection: the near-dup
    // clusters of q38, but the kept representative per cluster is the
    // HIGHEST-QUALITY copy (q39's heuristic score; min doc_id breaks
    // exact score ties) instead of the lowest id — the policy real
    // pipelines want, since near-dups differ in boilerplate/truncation
    // and "first crawled" is not "best copy". One keyed argmax over the
    // tagged corpus (max_by on a (quality, -id) struct — no window, no
    // extra shuffle beyond the group-by); singletons are their own
    // representative via the left join's coalesce.
    Query("q91_quality_canonicalize", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stop = Seq("the", "a", "of", "to", "and", "in", "is", "for")
      // session-shared LSH pair graph (q12 gates the banded join live)
      val cc = Dedup.connectedComponents(sharedLshPairs(s, dir))
      Dedup.canonicalizeByPreference(
          docs.select(col("doc_id"),
            TextAnalysis.qualityScore(col("text"), stop).as("quality")),
          "doc_id", cc, struct(col("quality"), -col("doc_id")))
        .select(col("doc_id"), col("comp"), col("quality"), col("rep_id"),
          col("is_rep"))
        .orderBy(col("doc_id"))
    },
      // q38's recursive closure + q39's quality formula + the per-cluster
      // argmax (row_number with the same (quality DESC, id ASC) ordering)
      s"""WITH RECURSIVE $BLOCKED_PAIRS_CTE,
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u AS id, v AS r FROM edges
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
        |comp AS (SELECT id, least(id, min(r)) AS comp
        |  FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |  (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END) * 0.4
        |    + (CAST(len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is','for'))) AS DOUBLE) / len(toks)) * 0.3
        |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        |    AS quality
        |  FROM tok),
        |tagged AS (SELECT q.doc_id, COALESCE(c.comp, q.doc_id) AS comp,
        |    q.quality
        |  FROM q LEFT JOIN comp c ON q.doc_id = c.id),
        |reps AS (SELECT comp, doc_id AS rep_id FROM (
        |    SELECT comp, doc_id, row_number() OVER (PARTITION BY comp
        |      ORDER BY quality DESC, doc_id ASC) AS rn FROM tagged)
        |  WHERE rn = 1)
        |SELECT t.doc_id, t.comp, t.quality, r.rep_id,
        |  t.doc_id = r.rep_id AS is_rep
        |FROM tagged t JOIN reps r USING (comp)
        |ORDER BY t.doc_id""".stripMargin),

    // LLM dedup diagnostics — the CROSS-SOURCE duplication matrix:
    // q38's near-dup pairs labeled with both members' sources,
    // normalized to an unordered (src_a ≤ src_b) cell, counted — the
    // report that tells a corpus team WHERE duplication comes from
    // (within one crawl vs leaking across crawls). Pair volume is the
    // LSH output (keyed, output-scaled); the two label joins are plain
    // keyed equi-joins against the narrow (doc_id, source) projection.
    Query("q93_crossdup_matrix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // session-shared LSH pair graph (q12 gates the banded join live);
      // the seam stays pinned for later consumers, so no release here
      val pairs = sharedLshPairs(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      val labeled = pairs
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("src_of_a")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("src_of_b")), "id_b")
      labeled.groupBy(
          least(col("src_of_a"), col("src_of_b")).as("src_a"),
          greatest(col("src_of_a"), col("src_of_b")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    },
      // the pair set is pinned identical to the exact join's (q38's
      // qualification), so the matrix twin runs the exact all-pairs
      // Jaccard + the same least/greatest cell normalization
      s"""WITH $BLOCKED_PAIRS_CTE,
        |lab AS (SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
        |  FROM pairs p
        |  JOIN documents da ON p.id_a = da.doc_id
        |  JOIN documents db ON p.id_b = db.doc_id)
        |SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
        |  COUNT(*) AS n_pairs
        |FROM lab GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin),

    // LLM dedup 9 — INCREMENTAL dedup (new batch vs historical content
    // index) through the bloom-pruned ANTI-join: rows the bloom
    // rejects are provably unseen and never enter a shuffle; only the
    // might-contain minority pays the exact anti-join. The production
    // shape for continuous ingestion at 100 TB — the history never
    // streams, only its bloom does.
    Query("q68_incremental_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val h = sha2(graft.functions.normText(col("text")), 256)
      val hist = docs.filter(col("doc_id") % 2 === 0).select(h.as("h"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), h.as("h"))
      Scale.bloomPrunedAntiJoin(batch, "h", hist, "h",
          expectedKeys = 10000L)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
      // plain NOT-IN twin: the bloom split must be answer-invariant
      """WITH hist AS (SELECT DISTINCT
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT doc_id, lang, source
        |FROM documents
        |WHERE doc_id % 2 = 1
        |  AND sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    NOT IN (SELECT h FROM hist)
        |ORDER BY doc_id""".stripMargin),

    // Sorted-neighborhood near-dup blocking (the deterministic,
    // one-shuffle alternative to q12's MinHash-LSH for prefix-sharing
    // duplicates): block on the normalized 8-char prefix, sort by the
    // 24-char key, compare each record to its 2 successors with exact
    // distinct-token Jaccard, integer-threshold at 80%.
    Query("q147_sorted_neighborhood", (s, dir) =>
      operators.Dedup.sortedNeighborhood(Tables.documents(s, dir),
        "doc_id", "text", windowSize = SnmWindow, prefixLen = SnmPrefixLen,
        keyLen = SnmKeyLen, minJaccardPct = SnmMinJaccardPct), snmTwin),

    // Dedup survivorship by source: per-source retention under global
    // exact dedup PLUS the cross-source flow (docs whose canonical
    // lives in a different source) — the mix-shift audit after q10.
    // Corpus-linear: content-hash agg + one id-keyed join, no pairs.
    Query("q155_dedup_survivorship", (s, dir) =>
      operators.Dedup.survivorship(Tables.documents(s, dir),
        "doc_id", "text", "source"),
      """WITH b AS (SELECT source AS grp, doc_id AS id,
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |      AS content_hash
        |  FROM documents),
        |c AS (SELECT content_hash, min(id) AS canonical_id
        |  FROM b GROUP BY 1),
        |j AS (SELECT b.grp, b.id, c.canonical_id, cg.grp AS canonical_grp
        |  FROM b JOIN c USING (content_hash)
        |  JOIN b cg ON cg.id = c.canonical_id),
        |a AS (SELECT grp, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN id = canonical_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_kept,
        |    CAST(SUM(CASE WHEN id <> canonical_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dropped,
        |    CAST(SUM(CASE WHEN id <> canonical_id
        |        AND grp <> canonical_grp THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_lost_cross_group
        |  FROM j GROUP BY 1)
        |SELECT grp, n_docs, n_kept, n_dropped, n_lost_cross_group,
        |  round(CAST(n_dropped AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |    + 0.0 AS drop_share
        |FROM a ORDER BY grp""".stripMargin),

    // Dedup report: exact-dup cluster-size histogram with corpus
    // shares — the summary read before choosing dedup thresholds.
    Query("q125_dup_histogram", (s, dir) =>
      operators.Dedup.dupSizeHistogram(
        Tables.documents(s, dir), "doc_id", "text"),
      """WITH g AS (SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
        |    COUNT(*) AS size
        |  FROM documents GROUP BY 1),
        |hist AS (SELECT size, COUNT(*) AS n_clusters,
        |    CAST(size * COUNT(*) AS BIGINT) AS n_docs
        |  FROM g GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM hist)
        |SELECT size, n_clusters, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_share
        |FROM hist CROSS JOIN t
        |ORDER BY size""".stripMargin),

    // Triangle census of the exact-Jaccard dup-pair graph
    // (degree-ordered node-iterator, equi-joins only) — the
    // cluster-density audit next to q38's components: triangles =
    // tight template families, open wedges = chains the transitive
    // closure glued.
    Query("q171_dup_triangles", (s, dir) =>
      // consumes the session-shared pair graph (sharedDupPairs —
      // built once per corpus); q11 gates the join itself live
      Dedup.triangleCount(sharedDupPairs(s, dir), "id_a", "id_b"),
      s"""WITH $BLOCKED_PAIRS_CTE,
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
        |nodes AS (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e),
        |deg AS (SELECT v, COUNT(*) AS d FROM nodes GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |      THEN e.a ELSE e.b END AS src,
        |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |      THEN e.b ELSE e.a END AS dst
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |wd AS (SELECT o1.dst AS wv, o2.dst AS ww FROM o o1 JOIN o o2
        |  ON o1.src = o2.src AND o1.dst < o2.dst),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM
        |  (SELECT least(wv, ww) AS a, greatest(wv, ww) AS b FROM wd) x
        |  JOIN e USING (a, b))
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(*) FROM wd) AS n_wedges, n_triangles
        |FROM tri""".stripMargin),

    // Blocking-quality audit (the record-linkage pair-completeness /
    // reduction-ratio protocol): q147's sorted-neighborhood run at
    // threshold 0 IS the raw candidate generator, scored against the
    // exact shingle-Jaccard truth (q11). One row: how many true pairs
    // the blocking would catch, at what fraction of the n²/2 pair
    // space — the report read before trusting any window/block
    // parameter at 100×. All counts exact int64; the two rates are
    // final double divisions.
    Query("q173_blocking_audit", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cand = Dedup.sortedNeighborhood(docs, "doc_id", "text",
          SnmWindow, SnmPrefixLen, SnmKeyLen, minJaccardPct = 0)
        .select(least(col("a"), col("b")).as("pa"),
          greatest(col("a"), col("b")).as("pb"))
        .distinct().persist()
      val truth = sharedDupPairs(s, dir)
        .select(col("id_a").as("pa"), col("id_b").as("pb")).persist()
      val caught = truth.join(cand, Seq("pa", "pb"), "left_semi")
      val out = docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true_pairs"))))
        .crossJoin(broadcast(caught.agg(count(lit(1)).as("n_caught"))))
        .select(col("n_docs"), col("n_candidates"), col("n_true_pairs"),
          col("n_caught"),
          (col("n_caught").cast("double") /
            col("n_true_pairs").cast("double")).as("pair_completeness"),
          (col("n_candidates").cast("double") /
            intDiv(col("n_docs") * (col("n_docs") - 1), lit(2L))
              .cast("double")).as("candidate_fraction"))
      Dedup.materializeAndRelease(out, cand, truth)
    }, {
      val leads = (1 until SnmWindow).map(j =>
        s"lead(doc_id, $j) OVER w AS id$j").mkString(", ")
      val branches = (1 until SnmWindow).map(j =>
        s"  SELECT doc_id AS a, id$j AS b FROM l WHERE id$j IS NOT NULL")
        .mkString("\n  UNION ALL\n")
      s"""WITH $BLOCKED_PAIRS_CTE,
        |truth AS (SELECT id_a AS pa, id_b AS pb FROM pairs),
        |t AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |k AS (SELECT doc_id, substr(nt, 1, $SnmKeyLen) AS key,
        |    substr(nt, 1, $SnmPrefixLen) AS blk FROM t),
        |l AS (SELECT doc_id, $leads
        |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
        |rawp AS (
        |$branches),
        |cand AS (SELECT DISTINCT least(a, b) AS pa, greatest(a, b) AS pb
        |  FROM rawp),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |nc AS (SELECT COUNT(*) AS n_candidates FROM cand),
        |ntp AS (SELECT COUNT(*) AS n_true_pairs FROM truth),
        |cg AS (SELECT COUNT(*) AS n_caught
        |  FROM truth JOIN cand USING (pa, pb))
        |SELECT n_docs, n_candidates, n_true_pairs, n_caught,
        |  CAST(n_caught AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)
        |    AS pair_completeness,
        |  CAST(n_candidates AS DOUBLE) /
        |    CAST((n_docs * (n_docs - 1)) // 2 AS DOUBLE)
        |    AS candidate_fraction
        |FROM nd CROSS JOIN nc CROSS JOIN ntp CROSS JOIN cg""".stripMargin
    }),

    // Per-node local clustering coefficient of the exact-Jaccard
    // dup-pair graph — q171's census drilled to each node's
    // neighborhood density.
    Query("q180_local_clustering", (s, dir) =>
      Dedup.localClustering(sharedDupPairs(s, dir), "id_a", "id_b"),
      s"""WITH $BLOCKED_PAIRS_CTE,
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
        |nodes AS (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e),
        |deg AS (SELECT v, COUNT(*) AS d FROM nodes GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |      THEN e.a ELSE e.b END AS src,
        |    CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |      THEN e.b ELSE e.a END AS dst
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |tri AS (SELECT o1.src AS apex, o1.dst AS wv, o2.dst AS ww
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
        |  JOIN e ON e.a = least(o1.dst, o2.dst)
        |    AND e.b = greatest(o1.dst, o2.dst)),
        |tv AS (SELECT apex AS v FROM tri
        |  UNION ALL SELECT wv FROM tri
        |  UNION ALL SELECT ww FROM tri),
        |tc AS (SELECT v, COUNT(*) AS t FROM tv GROUP BY 1)
        |SELECT deg.v AS node, deg.d AS degree,
        |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.d >= 2 THEN
        |    (2.0 * CAST(COALESCE(tc.t, 0) AS DOUBLE)) /
        |      CAST(deg.d * (deg.d - 1) AS DOUBLE)
        |    ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN tc USING (v)
        |ORDER BY node""".stripMargin),

    // Record-linkage agreement-pattern audit (the Fellegi-Sunter
    // pattern table with exact-Jaccard ground truth): SNM candidates
    // scored by (lang, source, length-band) agreement bits; per
    // pattern, pair count, true-dup count, and match rate — the table
    // that says which blocking evidence actually predicts duplication.
    Query("q181_linkage_agreement", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cand = Dedup.sortedNeighborhood(docs, "doc_id", "text",
          SnmWindow, SnmPrefixLen, SnmKeyLen, minJaccardPct = 0)
        .select(least(col("a"), col("b")).as("pa"),
          greatest(col("a"), col("b")).as("pb"))
        .distinct()
      val attrs = docs.select(col("doc_id"), col("lang"), col("source"),
        intDiv(col("n_chars"), lit(LinkLenBandChars)).as("band"))
      val truth = sharedDupPairs(s, dir).select(col("id_a").as("pa"),
        col("id_b").as("pb"), lit(1L).as("is_true"))
      val out = cand
        .join(attrs.select(col("doc_id").as("pa"), col("lang").as("la"),
          col("source").as("sa"), col("band").as("ba")), "pa")
        .join(attrs.select(col("doc_id").as("pb"), col("lang").as("lb"),
          col("source").as("sb"), col("band").as("bb")), "pb")
        .join(truth, Seq("pa", "pb"), "left")
        .select((when(col("la") === col("lb"), 4L).otherwise(0L) +
            when(col("sa") === col("sb"), 2L).otherwise(0L) +
            when(col("ba") === col("bb"), 1L).otherwise(0L))
            .as("agreement"),
          coalesce(col("is_true"), lit(0L)).as("is_true"))
        .groupBy("agreement")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("is_true")).as("n_true"))
        .select(col("agreement"), col("n_pairs"), col("n_true"),
          (col("n_true").cast("double") / col("n_pairs").cast("double"))
            .as("match_rate"))
        .orderBy(col("agreement").desc)
      Dedup.materializeAndRelease(out)
    }, {
      val leads = (1 until SnmWindow).map(j =>
        s"lead(doc_id, $j) OVER w AS id$j").mkString(", ")
      val branches = (1 until SnmWindow).map(j =>
        s"  SELECT doc_id AS a, id$j AS b FROM l WHERE id$j IS NOT NULL")
        .mkString("\n  UNION ALL\n")
      s"""WITH $BLOCKED_PAIRS_CTE,
        |truth AS (SELECT id_a AS pa, id_b AS pb FROM pairs),
        |t AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |k AS (SELECT doc_id, substr(nt, 1, $SnmKeyLen) AS key,
        |    substr(nt, 1, $SnmPrefixLen) AS blk FROM t),
        |l AS (SELECT doc_id, $leads
        |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
        |rawp AS (
        |$branches),
        |cand AS (SELECT DISTINCT least(a, b) AS pa, greatest(a, b) AS pb
        |  FROM rawp),
        |attrs AS (SELECT doc_id, lang, source,
        |    n_chars // $LinkLenBandChars AS band FROM documents),
        |sc AS (SELECT
        |    CAST(CASE WHEN aa.lang = ab.lang THEN 4 ELSE 0 END +
        |      CASE WHEN aa.source = ab.source THEN 2 ELSE 0 END +
        |      CASE WHEN aa.band = ab.band THEN 1 ELSE 0 END
        |      AS BIGINT) AS agreement,
        |    CASE WHEN tr.pa IS NOT NULL THEN 1 ELSE 0 END AS is_true
        |  FROM cand JOIN attrs aa ON cand.pa = aa.doc_id
        |  JOIN attrs ab ON cand.pb = ab.doc_id
        |  LEFT JOIN truth tr ON tr.pa = cand.pa AND tr.pb = cand.pb)
        |SELECT agreement, COUNT(*) AS n_pairs,
        |  CAST(SUM(is_true) AS BIGINT) AS n_true,
        |  CAST(SUM(is_true) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS match_rate
        |FROM sc GROUP BY 1
        |ORDER BY agreement DESC""".stripMargin
    }),

    // Degree assortativity of the exact-Jaccard dup-pair graph — one
    // row; division of two exact decimal moments.
    Query("q190_degree_assortativity", (s, dir) =>
      Dedup.degreeAssortativity(sharedDupPairs(s, dir), "id_a", "id_b"),
      s"""WITH $BLOCKED_PAIRS_CTE,
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
        |deg AS (SELECT v, COUNT(*) AS d FROM
        |  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1),
        |st AS (SELECT a AS x, b AS y FROM e
        |  UNION ALL SELECT b AS x, a AS y FROM e),
        |dd AS (SELECT dx.d AS dx, dy.d AS dy FROM st
        |  JOIN deg dx ON st.x = dx.v JOIN deg dy ON st.y = dy.v),
        |m AS (SELECT COUNT(*) AS m, CAST(SUM(dx) AS HUGEINT) AS s,
        |    CAST(SUM(dx * dy) AS HUGEINT) AS sxy,
        |    CAST(SUM(dx * dx) AS HUGEINT) AS sxx
        |  FROM dd)
        |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
        |  CASE WHEN m * sxx - s * s > 0
        |    THEN CAST(m * sxy - s * s AS DOUBLE) /
        |      CAST(m * sxx - s * s AS DOUBLE)
        |    ELSE NULL END AS assortativity
        |FROM m""".stripMargin),

    // Exact-dedup savings per source: removed docs (non-keepers of
    // their content-hash group, keeper = min id — q10's contract) and
    // the character mass they free, as corpus-share. Window-ranked
    // keeper flag: one hash-keyed shuffle, no self-join.
    Query("q192_exact_dedup_savings", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = sha2(lower(trim(regexp_replace(col("text"),
        lit("\\s+"), lit(" ")))), 256)
      val flagged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          h.as("__h"))
        .withColumn("__keep", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy("__h")))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(!col("__keep"), col("n_chars")).otherwise(lit(0L)))
            .as("chars_saved"))
        .select(col("source"), col("n_docs"), col("n_removed"),
          col("total_chars"), col("chars_saved"),
          (col("chars_saved").cast("double") /
            col("total_chars").cast("double")).as("share_saved"))
        .orderBy("source")
    },
      """WITH f AS (SELECT doc_id, source, n_chars,
        |    doc_id = MIN(doc_id) OVER (PARTITION BY
        |      sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    ) AS keep
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(CASE WHEN NOT keep THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS chars_saved,
        |  CAST(SUM(CASE WHEN NOT keep THEN n_chars ELSE 0 END)
        |      AS DOUBLE) /
        |    CAST(SUM(n_chars) AS DOUBLE) AS share_saved
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin),

    // BFS levels over the SNM blocking-candidate graph from its
    // max-degree hub — the reachability drill-down on the graph q173
    // audits; exact min-distance levels, fixed BfsMaxDepth rounds.
    Query("q194_blocking_graph_bfs", (s, dir) => {
      val cand = Dedup.sortedNeighborhood(Tables.documents(s, dir),
        "doc_id", "text", SnmWindow, SnmPrefixLen, SnmKeyLen,
        minJaccardPct = 0)
      Dedup.bfsDistances(cand, "a", "b", BfsMaxDepth)
    }, {
      val leads = (1 until SnmWindow).map(j =>
        s"lead(doc_id, $j) OVER w AS id$j").mkString(", ")
      val branches = (1 until SnmWindow).map(j =>
        s"  SELECT doc_id AS a, id$j AS b FROM l WHERE id$j IS NOT NULL")
        .mkString("\n  UNION ALL\n")
      val rounds = (1 to BfsMaxDepth).map { k =>
        s"""d$k AS (SELECT v, MIN(dist) AS dist FROM (
           |  SELECT v, dist FROM d${k - 1}
           |  UNION ALL
           |  SELECT adj.t AS v, ${k} AS dist
           |  FROM d${k - 1} p JOIN adj ON p.v = adj.s
           |  WHERE p.dist = ${k - 1}) GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
        |  FROM documents),
        |k AS (SELECT doc_id, substr(nt, 1, $SnmKeyLen) AS key,
        |    substr(nt, 1, $SnmPrefixLen) AS blk FROM t),
        |l AS (SELECT doc_id, $leads
        |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
        |rawp AS (
        |$branches),
        |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |  FROM rawp WHERE a <> b),
        |adj AS (SELECT a AS s, b AS t FROM e
        |  UNION ALL SELECT b AS s, a AS t FROM e),
        |seed AS (SELECT s AS v FROM adj GROUP BY 1
        |  ORDER BY COUNT(*) DESC, s LIMIT 1),
        |d0 AS (SELECT v, 0 AS dist FROM seed),
        |$rounds
        |SELECT v AS node, CAST(dist AS BIGINT) AS distance
        |FROM d$BfsMaxDepth ORDER BY node""".stripMargin
    })
  )
}
