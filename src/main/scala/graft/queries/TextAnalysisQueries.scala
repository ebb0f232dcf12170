package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._
import SparkEntry.{sharedBpeVocab, sharedLmScores, sharedSourceVocab}

/** Corpus text statistics: tokenization, BPE training and encoding,
  * language models, sketches and distribution profiles, each with its
  * DuckDB twin.
  */
private[graft] object TextAnalysisQueries {
  /** q146 heavy-hitter threshold: items with count > n/k. 40 sits just
    * above this corpus's 31-token uniform vocabulary (each ≈ n/31), so
    * the exact filter binds — the rarest token falls out. */
  private val HeavyHitterK = 40
  /** q157 histogram-quantile audit: 8-token bins; p50/p90/p99 read
    * from cumulative bin counts (±binWidth precision). */
  private val TokQuantileBinTokens = 8L
  private val TokQuantilePcts = Seq(50, 90, 99)
  /** q158 language-ID stopword profiles (q20's two plus a perf third);
    * the twin regenerates the same integer-count argmax, so the word
    * lists are interpolated from HERE into both sides. */
  private val LangIdProfiles = Seq(
    "query" -> Seq("join", "filter", "group", "order", "sort", "query", "window"),
    "data" -> Seq("data", "row", "column", "table", "value", "batch", "stream"),
    "perf" -> Seq("fast", "slow", "big", "small", "hash", "merge", "vector"))
  /** q170 bigram-PMI support floor: ~27 occurrences/bigram expected on
    * this corpus's ~31-token uniform vocabulary, so 10 keeps the bulk
    * while still cutting the rare-pair tail PMI is degenerate on. */
  private val BigramPmiMinCount = 10L
  /** q177 MAD multiplier: |x − median| > k·MAD flags the outlier
    * (k=3 ≈ the robust analogue of a 2σ cut on normal data). */
  private val MadK = 3.0

  /** BPE twins, DuckDB side: frequency-weighted word vocabulary (wc)
    * and its char+</w> symbol sequences (v0). */
  private val BPE_VOCAB_CTE =
    """wc AS (SELECT w, COUNT(*) AS c FROM (
      |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
      |  FROM documents) WHERE w <> '' GROUP BY w),
      |v0 AS (SELECT w, list_append(list_transform(range(length(w)), i -> w[i+1]), '</w>') AS s, c
      |  FROM wc)""".stripMargin

  /** The unrolled BPE trainer, DuckDB side (q102/q103 twins) — round r
    * counts adjacent pairs over vocab v{r-1}, takes the
    * (count DESC, a, b) argmax b$r, and rebuilds v$r via the SAME
    * left-to-right non-overlapping fold the engine uses (list_reduce
    * over a space-joined accumulator; symbols never contain spaces, so
    * the split/join round-trip is lossless). Yields CTEs
    * b1..b$numMerges (the merges) and v$numMerges (the final
    * vocabulary, with the word column carried through). */
  private def bpeRoundsCte(numMerges: Int): String =
    BPE_VOCAB_CTE + ",\n" + (1 to numMerges).map { r =>
      s"""p$r AS (SELECT u.a AS a, u.b AS b, CAST(SUM(c) AS BIGINT) AS pc
         |  FROM v${r - 1} CROSS JOIN unnest(list_transform(range(len(s)-1),
         |    i -> {'a': s[i+1], 'b': s[i+2]})) AS t(u)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
         |v$r AS (SELECT w, string_split(list_reduce(s, (acc, x) ->
         |    CASE WHEN (acc = m.a OR right(acc, length(m.a)+1) = ' ' || m.a) AND x = m.b
         |      THEN left(acc, length(acc)-length(m.a)) || m.a || m.b
         |      ELSE acc || ' ' || x END), ' ') AS s, c
         |  FROM v${r - 1} LEFT JOIN b$r m ON TRUE)""".stripMargin
    // ^ LEFT JOIN ON TRUE, not CROSS JOIN: when training exhausts early
    // (b$r empty) the vocabulary must pass through UNCHANGED — the
    // NULL merge pair makes every fold comparison false, rebuilding s
    // verbatim — matching the engine's early-exit, instead of
    // collapsing v$r (and every downstream fertility/encode twin) to
    // zero rows
    }.mkString(",\n")

  private def bpeTrainOracle(numMerges: Int): String = {
    val sel = (1 to numMerges).map(r =>
      s"SELECT CAST($r AS INTEGER) AS merge_rank, a, b, pc AS pair_count FROM b$r")
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeRoundsCte(numMerges)}\n$sel\nORDER BY merge_rank"
  }

  /** q103's twin: per-source word counts joined against the trained
    * vocabulary's symbol counts — encoding as a dictionary join. */
  private def bpeFertilityOracle(numMerges: Int): String =
    s"""WITH ${bpeRoundsCte(numMerges)},
      |ws AS (SELECT source, w, COUNT(*) AS c FROM (
      |  SELECT source, unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
      |  FROM documents) WHERE w <> '' GROUP BY 1, 2)
      |SELECT source, CAST(SUM(ws.c) AS BIGINT) AS n_words,
      |  CAST(SUM(ws.c * len(v.s)) AS BIGINT) AS n_subwords,
      |  round(CAST(SUM(ws.c * len(v.s)) AS DOUBLE) / CAST(SUM(ws.c) AS DOUBLE), 9) AS fertility
      |FROM ws JOIN v$numMerges v USING (w)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val all: Seq[Query] = Seq(
    // LLM text analysis — token stats, quality score, language-ID
    // heuristic, canonical fingerprint.
    Query("q20_text_stats", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stats = TextAnalysis.tokenStats(col("text"))
      val profiles = Seq(
        "query" -> Seq("join", "filter", "group", "order", "sort", "query", "window"),
        "data" -> Seq("data", "row", "column", "table", "value", "batch", "stream"))
      docs.select(
          col("doc_id"),
          stats.getField("n_tokens").cast("long").as("n_tokens"),
          stats.getField("n_distinct").cast("long").as("n_distinct"),
          stats.getField("type_token_ratio").as("type_token_ratio"),
          stats.getField("mean_token_len").as("mean_token_len"),
          TextAnalysis.langIdPredict(col("text"), profiles).as("lang_pred"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |st AS (SELECT doc_id, toks,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CAST(len(list_filter(toks, t -> t IN ('join','filter','group','order','sort','query','window'))) AS DOUBLE)
        |    / len(toks) AS s_query,
        |  CAST(len(list_filter(toks, t -> t IN ('data','row','column','table','value','batch','stream'))) AS DOUBLE)
        |    / len(toks) AS s_data
        |  FROM tok)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
        |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) AS mean_token_len,
        |  CASE WHEN s_data > s_query THEN 'data' ELSE 'query' END AS lang_pred,
        |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
        |FROM st
        |ORDER BY doc_id""".stripMargin),

    // Multimodal — binary payload column + typed metadata extraction
    // (deterministic stub decode; real Spark plumbing).
    Query("q23_multimodal_meta", (s, dir) => {
      Multimodal.withMedia(Tables.documents(s, dir), "text")
        .select(
          col("doc_id"),
          col("media_meta.n_bytes").cast("long").as("n_bytes"),
          col("media_meta.format_id").cast("long").as("format_id"),
          col("media_meta.width").cast("long").as("width"),
          col("media_meta.height").cast("long").as("height"),
          col("media_meta.content_md5").as("content_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ord(text[1]) AS BIGINT) AS format_id,
        |  CAST(ord(text[2]) * 16 AS BIGINT) AS width,
        |  CAST(ord(text[3]) * 16 AS BIGINT) AS height,
        |  md5(text) AS content_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // Text quality + token budgeting + portable fingerprint chain:
    // qualityScore (length/stopword/diversity blend — the SQL mirrors
    // the exact operation order so IEEE doubles are bit-identical),
    // BPE-ish subword counting for corpus budgeting, and the portable
    // md5-chain rolling hash (order-SENSITIVE, engine-reproducible).
    Query("q39_text_quality", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stop = Seq("the", "a", "of", "to", "and", "in", "is", "for")
      val counts = TextAnalysis.tokenCounts(col("text"))
      docs.select(
          col("doc_id"),
          TextAnalysis.qualityScore(col("text"), stop).as("quality"),
          counts.getField("n_whitespace").cast("long").as("n_whitespace"),
          counts.getField("n_bpeish").cast("long").as("n_bpeish"),
          counts.getField("n_chars_div4").cast("long").as("n_chars_div4"),
          TextAnalysis.rollingHashPortable(col("text")).as("roll_hash"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, text,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END) * 0.4
        |    + (CAST(len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is','for'))) AS DOUBLE) / len(toks)) * 0.3
        |    + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3 AS quality,
        |  CAST(len(toks) AS BIGINT) AS n_whitespace,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4,
        |  list_reduce(list_prepend('', toks), (acc, t) -> md5(acc || t)) AS roll_hash
        |FROM tok
        |ORDER BY doc_id""".stripMargin),

    // LLM text-quality 2 — intra-document repetition signals
    // (Gopher/RefinedWeb-class): duplicate n-gram rate and top-token
    // share catch boilerplate loops and keyword stuffing that length
    // heuristics miss. Pure per-row HOF expressions; exact-arithmetic
    // DuckDB twin.
    Query("q49_repetition_stats", (s, dir) => {
      // withRepetitionStats materializes the token array as a column
      // before the per-element lambdas read it — building the stats
      // directly over `tokens(text)` re-ran the regex tokenizer per
      // ARRAY ELEMENT inside the lambdas (measured 18.6 s vs 1.4 s at
      // sf0.1; fourth sighting of the no-CSE-inside-lambdas trap)
      TextAnalysis.withRepetitionStats(
          Tables.documents(s, dir).select("doc_id", "text"), "text", n = 3)
        .select("doc_id", "ntok", "dup_ngram_rate", "top_token_ratio")
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS ntok,
        |  CASE WHEN len(toks) - 2 > 0 THEN
        |    1.0 - CAST(len(list_distinct(list_transform(range(len(toks)-2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS DOUBLE)
        |      / CAST(len(toks) - 2 AS DOUBLE)
        |  ELSE 0.0 END AS dup_ngram_rate,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE)
        |  ELSE 0.0 END AS top_token_ratio
        |FROM tok
        |ORDER BY doc_id""".stripMargin),

    // LLM text-quality 3 — corpus-statistical token rarity (the
    // exact-arithmetic cousin of unigram-LM scoring): docs scored by
    // the global document frequency of their tokens. Integer sums +
    // one final division = bit-reproducible across engines, unlike a
    // log-prob sum (order-of-summation sensitive).
    Query("q51_token_rarity", (s, dir) => {
      TextAnalysis.tokenRarity(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tok"), col("sum_tok_df"),
          col("min_tok_df"), col("avg_tok_df"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok)
        |SELECT t.doc_id,
        |  count(*) AS n_tok,
        |  CAST(sum(d.df) AS BIGINT) AS sum_tok_df,
        |  CAST(min(d.df) AS BIGINT) AS min_tok_df,
        |  CAST(sum(d.df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tok_df
        |FROM tok t JOIN dfq d ON t.tok = d.tok
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // First-occurrence novelty: what fraction of each doc's 3-shingles
    // has no earlier (lower-id) owner — the corpus-redundancy
    // diagnostic; narrow hash-keyed joins only
    Query("q76_novelty", (s, dir) => {
      operators.TextAnalysis.noveltyScores(
          Tables.documents(s, dir), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      // same distinct-3-shingle sets; min-id first owner; integer novel
      // count + one final division
      s"""WITH $SHINGLES_CTE,
        |ex AS (SELECT doc_id, sz, unnest(s) AS g FROM shz),
        |f AS (SELECT g, MIN(doc_id) AS first_id FROM ex GROUP BY 1),
        |agg AS (SELECT e.doc_id, e.sz,
        |    CAST(SUM(CASE WHEN f.first_id = e.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM ex e JOIN f USING (g)
        |  GROUP BY 1, 2)
        |SELECT doc_id, sz AS n_shingles, n_novel,
        |  CAST(n_novel AS DOUBLE) / CAST(sz AS DOUBLE) AS novelty
        |FROM agg
        |ORDER BY doc_id""".stripMargin),

    // HTML → text extraction (the WET step): boilerplate blocks
    // dropped whole, tags stripped, entities decoded — pure per-row
    // codegen'd regexp, RE2-portable patterns. The wrap synthesizes
    // the markup (title with the doc id, style+script in head, nav,
    // entity in body, footer) so every extraction rule is exercised
    // and the body must round-trip to `text || ' & more'`.
    Query("q77_html_extract", (s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" | d"), (col("doc_id") % 37).cast("string"),
        lit("</title><style>p{margin:0}</style>" +
          "<script>var x = 1 < 2;</script></head>" +
          "<body><nav>home | about</nav><p>"),
        col("text"),
        lit(" &amp; more</p><footer>(c) 2026 example</footer>" +
          "</body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          operators.TextAnalysis.htmlTitle(html).as("title"),
          operators.TextAnalysis.htmlBodyText(html).as("body"))
        .withColumn("n_chars", length(col("body")).cast("long"))
        .orderBy(col("doc_id"))
    },
      // identical RE2-compatible patterns (no backreferences), same
      // block order (head first), same entity order (&amp; last)
      """WITH aug AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  ' | d' || CAST(doc_id % 37 AS VARCHAR) ||
        |  '</title><style>p{margin:0}</style>' ||
        |  '<script>var x = 1 < 2;</script></head>' ||
        |  '<body><nav>home | about</nav><p>' || text ||
        |  ' &amp; more</p><footer>(c) 2026 example</footer>' ||
        |  '</body></html>' AS h
        |  FROM documents),
        |ext AS (SELECT doc_id,
        |  regexp_extract(h, '(?s)<title(?:\s[^>]*)?>(.*?)</title>', 1)
        |    AS title,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(regexp_replace(regexp_replace(
        |          regexp_replace(regexp_replace(h,
        |            '(?s)<head(\s[^>]*)?>.*?</head>', ' ', 'g'),
        |            '(?s)<script(\s[^>]*)?>.*?</script>', ' ', 'g'),
        |            '(?s)<style(\s[^>]*)?>.*?</style>', ' ', 'g'),
        |            '(?s)<nav(\s[^>]*)?>.*?</nav>', ' ', 'g'),
        |            '(?s)<footer(\s[^>]*)?>.*?</footer>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS body
        |  FROM aug)
        |SELECT doc_id, title, body,
        |  CAST(length(body) AS BIGINT) AS n_chars
        |FROM ext
        |ORDER BY doc_id""".stripMargin),

    // Stupid-Backoff bigram LM (Brants et al. 2007) on the
    // incremental split: even-id docs are the model, odd-id docs the
    // scored batch — so seen bigrams, backoffs, and OOV tokens all
    // occur for real
    Query("q82_stupid_backoff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.TextAnalysis.stupidBackoffScore(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      // same counts (even-id model), same add-one unigram with the
      // 0.4·(u) association, same round-9 DECIMAL factor sums, same
      // integer nano mean — parallel unnest slices give the aligned
      // (prev, cur) pairs
      """WITH mt AS (SELECT
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |uni AS (SELECT w, COUNT(*) AS c1 FROM (
        |  SELECT unnest(toks) AS w FROM mt) GROUP BY 1),
        |bi AS (SELECT prev, cur, COUNT(*) AS c2 FROM (
        |  SELECT unnest(toks[1:len(toks)-1]) AS prev,
        |         unnest(toks[2:len(toks)]) AS cur FROM mt) GROUP BY 1, 2),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
        |v AS (SELECT COUNT(*) AS v FROM uni),
        |bt AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 1),
        |fs AS (SELECT bt.doc_id,
        |    CAST(round(ln(CAST(COALESCE(u.c1, 0) + 1 AS DOUBLE) /
        |      CAST(n.n + v.v AS DOUBLE)), 9) AS DECIMAL(30,9)) AS lp
        |  FROM bt LEFT JOIN uni u ON bt.toks[1] = u.w
        |  CROSS JOIN n CROSS JOIN v
        |  WHERE len(bt.toks) >= 1),
        |brows AS (SELECT doc_id,
        |    unnest(toks[1:len(toks)-1]) AS prev,
        |    unnest(toks[2:len(toks)]) AS cur
        |  FROM bt),
        |bs AS (SELECT brows.doc_id,
        |    CASE WHEN b2.c2 IS NOT NULL THEN
        |      CAST(round(ln(CAST(b2.c2 AS DOUBLE) /
        |        CAST(up.c1 AS DOUBLE)), 9) AS DECIMAL(30,9))
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(COALESCE(uc.c1, 0) + 1 AS DOUBLE) /
        |        CAST(n.n + v.v AS DOUBLE))), 9) AS DECIMAL(30,9))
        |    END AS lp
        |  FROM brows
        |  LEFT JOIN bi b2 USING (prev, cur)
        |  LEFT JOIN uni up ON brows.prev = up.w
        |  LEFT JOIN uni uc ON brows.cur = uc.w
        |  CROSS JOIN n CROSS JOIN v),
        |allf AS (SELECT * FROM fs UNION ALL SELECT * FROM bs)
        |SELECT doc_id, COUNT(*) AS nfactor,
        |  CAST(SUM(lp) AS DOUBLE) AS logprob_sum,
        |  CAST(SUM(lp) * -1000000000 AS BIGINT) // COUNT(*) AS nll_mean_nano
        |FROM allf GROUP BY 1
        |ORDER BY doc_id""".stripMargin),

    // Zipf curve: top-1000 vocabulary with exact (rank, freq) and
    // round-9 log coordinates — the curve itself is the hash-gated
    // artifact; slope fitting is trivially downstream
    Query("q85_zipf_curve", (s, dir) => {
      operators.TextAnalysis.zipfCurve(Tables.documents(s, dir),
          "text", k = 1000)
        .orderBy(col("rank"))
    },
      // same tokenizer, same (freq DESC, tok) order, round-9 ln pair
      """WITH tok AS (SELECT unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY 1),
        |top AS (SELECT tok, freq FROM f
        |  ORDER BY freq DESC, tok LIMIT 1000),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok)
        |    AS BIGINT) AS rank, tok, freq FROM top)
        |SELECT rank, tok, freq,
        |  round(ln(CAST(rank AS DOUBLE)), 9) AS ln_rank,
        |  round(ln(CAST(freq AS DOUBLE)), 9) AS ln_freq
        |FROM r
        |ORDER BY rank""".stripMargin),

    // Heaps vocabulary growth over 10 id-prefix slices — one corpus
    // pass via min-first-bucket, no per-prefix rescans
    Query("q86_heaps_growth", (s, dir) => {
      operators.TextAnalysis.heapsGrowth(Tables.documents(s, dir),
        "doc_id", "text", buckets = 10)
    },
      // same bucket = least(9, floor(id·10/N)) (double division then
      // floor in both engines), min-first-bucket vocabulary, 10-row
      // cumulative window
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |occ AS (SELECT
        |    least(9, CAST(floor(doc_id * 10 / n.n) AS INTEGER)) AS b,
        |    unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS tok
        |  FROM documents CROSS JOIN n),
        |tp AS (SELECT b, COUNT(*) AS n_tok FROM occ GROUP BY 1),
        |vp AS (SELECT b, COUNT(*) AS n_new FROM (
        |  SELECT tok, MIN(b) AS b FROM occ GROUP BY 1) GROUP BY 1)
        |SELECT CAST(tp.b AS INTEGER) AS bucket,
        |  CAST(SUM(tp.n_tok) OVER (ORDER BY tp.b) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(SUM(COALESCE(vp.n_new, 0)) OVER (ORDER BY tp.b)
        |    AS BIGINT) AS cum_vocab
        |FROM tp LEFT JOIN vp USING (b)
        |ORDER BY bucket""".stripMargin),

    // LLM reporting — the corpus MANIFEST (dataset-card aggregate)
    // every corpus release publishes: per (source, lang) doc counts,
    // token totals, exact-duplicate rate (distinct normalized-text
    // digests vs docs), and mean LM NLL — one keyed group-by over the
    // LM-scored corpus, all arithmetic cross-engine exact (DECIMAL
    // sums, IntegralDivide mean).
    Query("q90_corpus_manifest", (s, dir) =>
      // session-shared LM scores (q66 gates unigramLogProb live)
      operators.TextAnalysis.corpusManifestWith(Tables.documents(s, dir),
        "doc_id", "text", groupCols = Seq("source", "lang"),
        scored = sharedLmScores(s, dir)),
      // manifest twin: q66's LM CTEs + sha256 of the shared normText →
      // the same keyed aggregate (integer-divide mean, exact sums)
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
        |base AS (SELECT d.doc_id, d.source, d.lang,
        |    sha256(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g'))))
        |      AS nt,
        |    s.ntok, s.nll_mean_nano
        |  FROM documents d JOIN scored s USING (doc_id))
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |  COUNT(DISTINCT nt) AS n_unique,
        |  CAST(SUM(nll_mean_nano) AS BIGINT) // COUNT(*) AS mean_nll_nano
        |FROM base GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin),

    // Scale primitive — sketch SET-ALGEBRA: cross-source vocabulary
    // overlap by inclusion-exclusion over per-source HLL registers
    // (union registers = elementwise max — ONE corpus pass builds all
    // per-source sketches, pair unions merge register tables, never
    // re-scan). est_overlap rides next to the exact join for the
    // error-band exhibit; everything hash-gated.
    Query("q69_vocab_overlap", (s, dir) => {
      // session-shared distinct (source, tok) vocabulary — HLL
      // registers over the distinct table equal registers over the
      // raw token stream (max_rho is duplicate-insensitive), so BOTH
      // halves of this audit read the seam
      val dtok = sharedSourceVocab(s, dir)
      val srcRegs = Sketch.hllRegistersBy(dtok, "tok", Seq("source"), p = 8)
        .persist()
      val srcEst = Sketch.hllEstimateBy(srcRegs, Seq("source"), p = 8)
        .select(col("source"), col("estimate"))
      val srcs = srcRegs.select("source").distinct()
      val pairs = broadcast(srcs.toDF("source_a"))
        .crossJoin(broadcast(srcs.toDF("source_b")))
        .filter(col("source_a") < col("source_b"))
      val members = pairs.select(col("source_a"), col("source_b"),
        explode(array(col("source_a"), col("source_b"))).as("source"))
      val merged = members.join(srcRegs, "source")
        .groupBy(col("source_a"), col("source_b"), col("bucket"))
        .agg(max(col("max_rho")).as("max_rho"))
      val unionEst = Sketch.hllEstimateBy(merged,
          Seq("source_a", "source_b"), p = 8)
        .select(col("source_a"), col("source_b"),
          col("estimate").as("est_union"))
      val exact = dtok.toDF("source_a", "tok")
        .join(dtok.toDF("source_b", "tok"), "tok")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      val out = pairs
        .join(srcEst.toDF("source_a", "est_a"), "source_a")
        .join(srcEst.toDF("source_b", "est_b"), "source_b")
        .join(unionEst, Seq("source_a", "source_b"))
        .join(exact, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), col("est_a"),
          col("est_b"), col("est_union"),
          (round(col("est_a") + col("est_b") - col("est_union"), 9)
            + lit(0.0)).as("est_overlap"),
          coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
        .orderBy(col("source_a"), col("source_b"))
      // dtok is the pinned session seam — only the local persist is
      // released here
      Dedup.materializeAndRelease(out, srcRegs)
    },
      // per-source registers + pairwise elementwise-max union, the same
      // estimate formula as q65 applied per group at both levels
      """WITH tok AS (SELECT source, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT source, tok,
        |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
        |r AS (SELECT source, CAST(h % 256 AS INTEGER) AS bucket,
        |  CASE WHEN h // 256 = 0 THEN 53
        |       ELSE 52 - (length(bin(h // 256)) - 1) END AS rho
        |  FROM h),
        |sreg AS (SELECT source, bucket, CAST(MAX(rho) AS INTEGER) AS max_rho
        |  FROM r GROUP BY 1, 2),
        |sagg AS (SELECT source, COUNT(*) AS n_set,
        |  CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rho)) AS BIGINT) +
        |    (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS harm
        |  FROM sreg GROUP BY 1),
        |sraw AS (SELECT source, n_set,
        |  CAST(0.7213 AS DOUBLE) /
        |    (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |    * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
        |    * CAST(9007199254740992.0 AS DOUBLE) / CAST(harm AS DOUBLE) AS raw
        |  FROM sagg),
        |sest AS (SELECT source,
        |  CASE WHEN (256 - n_set) > 0 AND raw < 640.0
        |       THEN round(CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |         CAST(256 - n_set AS DOUBLE)), 9)
        |       ELSE round(raw, 9) END + 0.0 AS estimate
        |  FROM sraw),
        |srcs AS (SELECT DISTINCT source FROM sreg),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b
        |  FROM srcs a, srcs b WHERE a.source < b.source),
        |members AS (
        |  SELECT source_a, source_b, source_a AS source FROM pairs
        |  UNION ALL
        |  SELECT source_a, source_b, source_b AS source FROM pairs),
        |mreg AS (SELECT m.source_a, m.source_b, g.bucket,
        |    MAX(g.max_rho) AS max_rho
        |  FROM members m JOIN sreg g ON g.source = m.source
        |  GROUP BY 1, 2, 3),
        |magg AS (SELECT source_a, source_b, COUNT(*) AS n_set,
        |  CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rho)) AS BIGINT) +
        |    (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS harm
        |  FROM mreg GROUP BY 1, 2),
        |mraw AS (SELECT source_a, source_b, n_set,
        |  CAST(0.7213 AS DOUBLE) /
        |    (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |    * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
        |    * CAST(9007199254740992.0 AS DOUBLE) / CAST(harm AS DOUBLE) AS raw
        |  FROM magg),
        |uest AS (SELECT source_a, source_b,
        |  CASE WHEN (256 - n_set) > 0 AND raw < 640.0
        |       THEN round(CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |         CAST(256 - n_set AS DOUBLE)), 9)
        |       ELSE round(raw, 9) END + 0.0 AS est_union
        |  FROM mraw),
        |dtok AS (SELECT DISTINCT source, tok FROM h),
        |exact AS (SELECT x.source AS source_a, y.source AS source_b,
        |    COUNT(*) AS exact_overlap
        |  FROM dtok x JOIN dtok y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b,
        |  ea.estimate AS est_a, eb.estimate AS est_b, u.est_union,
        |  round(ea.estimate + eb.estimate - u.est_union, 9) + 0.0
        |    AS est_overlap,
        |  COALESCE(e.exact_overlap, 0) AS exact_overlap
        |FROM pairs p
        |JOIN sest ea ON ea.source = p.source_a
        |JOIN sest eb ON eb.source = p.source_b
        |JOIN uest u ON u.source_a = p.source_a AND u.source_b = p.source_b
        |LEFT JOIN exact e ON e.source_a = p.source_a
        |  AND e.source_b = p.source_b
        |ORDER BY 1, 2""".stripMargin),

    // LLM text 6 — unigram LM quality score (the corpus-as-model
    // stand-in for a KenLM perplexity gate): per-token round-9
    // log-probs summed in DECIMAL (exact, order-independent); the
    // per-token mean ships as an all-integer nano-scaled NLL because
    // round(sum/n, 9) half-rounds differently per engine (observed).
    Query("q66_lm_score", (s, dir) => {
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("ntok"),
          col("logprob_sum"), col("nll_mean_nano"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM tok),
        |scored AS (
        |  SELECT doc_id, CAST(round(ln(CAST(cnt AS DOUBLE) /
        |    CAST(total AS DOUBLE)), 9) AS DECIMAL(30,9)) AS lp
        |  FROM tok JOIN cnt USING (tok) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS ntok,
        |  CAST(SUM(lp) AS DOUBLE) AS logprob_sum,
        |  CAST(SUM(lp) * -1000000000 AS BIGINT) // COUNT(*) AS nll_mean_nano
        |FROM scored GROUP BY 1
        |ORDER BY doc_id""".stripMargin),

    // Scale primitive — HyperLogLog as relational ops (the CMS
    // sibling, closing the sketch family): vocabulary distinct-count
    // from a 2^8-row register table built by ONE map-side-combinable
    // groupBy. The md5/bin() construction is engine-reproducible, so
    // the APPROXIMATE registers AND estimate get a hash-exact oracle;
    // exact_distinct rides along to exhibit the error band.
    Query("q65_hll_distinct", (s, dir) => {
      // tok is persisted: registers AND the exact count both consume
      // it — unpersisted, the corpus would tokenize twice
      val tok = Tables.documents(s, dir)
        .select(explode(graft.functions.tokens(col("text"))).as("tok"))
        .persist()
      val regs = Sketch.hllRegisters(tok, "tok", p = 8).persist()
      val est = Sketch.hllEstimate(regs, p = 8)
      val exact = tok.agg(countDistinct(col("tok")).as("exact_distinct"))
      Dedup.materializeAndRelease(
        regs.crossJoin(broadcast(est)).crossJoin(broadcast(exact))
          .orderBy(col("bucket")),
        tok, regs)
    },
      // identical md5/15-hex/60-bit register construction; the harmonic
      // sum is LONG arithmetic (shift by 53-rho), the alpha expression
      // is written in the same IEEE evaluation order, ln through the
      // round-9 idiom — so even the estimate hash-matches
      """WITH tok AS (SELECT unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h,
        |  tok FROM tok),
        |r AS (SELECT CAST(h % 256 AS INTEGER) AS bucket,
        |  CASE WHEN h // 256 = 0 THEN 53
        |       ELSE 52 - (length(bin(h // 256)) - 1) END AS rho
        |  FROM h),
        |reg AS (SELECT bucket, CAST(MAX(rho) AS INTEGER) AS max_rho
        |  FROM r GROUP BY 1),
        |est AS (SELECT
        |  COUNT(*) AS n_buckets_set,
        |  CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rho)) AS BIGINT) +
        |    (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53)
        |    AS harmonic_sum_scaled
        |  FROM reg),
        |est2 AS (SELECT n_buckets_set, harmonic_sum_scaled,
        |  CAST(0.7213 AS DOUBLE) /
        |    (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
        |    * CAST(256.0 AS DOUBLE) * CAST(256.0 AS DOUBLE)
        |    * CAST(9007199254740992.0 AS DOUBLE)
        |    / CAST(harmonic_sum_scaled AS DOUBLE) AS raw
        |  FROM est),
        |est3 AS (SELECT n_buckets_set, harmonic_sum_scaled,
        |  CASE WHEN (256 - n_buckets_set) > 0 AND raw < 640.0
        |       THEN round(CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) /
        |         CAST(256 - n_buckets_set AS DOUBLE)), 9)
        |       ELSE round(raw, 9) END + 0.0 AS estimate
        |  FROM est2),
        |ex AS (SELECT COUNT(DISTINCT tok) AS exact_distinct FROM h)
        |SELECT reg.bucket, reg.max_rho, est3.n_buckets_set,
        |  est3.harmonic_sum_scaled, est3.estimate, ex.exact_distinct
        |FROM reg CROSS JOIN est3 CROSS JOIN ex
        |ORDER BY reg.bucket""".stripMargin),

    // LLM text 5 — TF-IDF top-k keywords per document: tf = one hash
    // aggregate, df = the broadcast vocabulary table, N = broadcast
    // 1-row cross join, top-k = per-document window. Score rounded to
    // 9 dp (the q27 transcendental idiom) with the token as tie-break.
    Query("q62_tfidf_topk", (s, dir) => {
      TextAnalysis.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text",
          k = 3)
        .select(col("id").as("doc_id"), col("rank"), col("tok"),
          col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
      // same tokenizer as q52; score = round(tf * ln(N/df), 9) + 0.0 —
      // the q27 idiom — with tok as the deterministic tie-break
      """WITH tok AS (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tok, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) + 0.0 AS score
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, tf, df, score
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),

    // Scale primitive — count-min sketch as relational ops: the
    // counter table is ONE map-side-combinable groupBy producing
    // depth×width rows (broadcastable), estimates a keyed join. The
    // md5 bucket hash makes the sketch engine-reproducible, so even
    // the APPROXIMATE structure gets a hash-exact oracle: the DuckDB
    // twin rebuilds the identical counters and estimates. Output =
    // the exact top-10 tokens with exact and sketch counts (est ≥
    // exact by construction; equal when no bucket collision).
    Query("q52_cms_heavy_hitters", (s, dir) => {
      val depth = 4; val width = 4096
      val tok = Tables.documents(s, dir)
        .select(explode(graft.functions.tokens(col("text"))).as("tok"))
      val tcnt = tok.groupBy("tok").agg(count(lit(1)).as("cnt")).persist()
      val counters = Sketch.cmsCounters(tcnt, "tok", "cnt", depth, width)
      val top10 = tcnt.orderBy(col("cnt").desc, col("tok")).limit(10)
      // materialize the 10-row result, then release the vocabulary-
      // sized count table: Verify runs the whole suite in one session
      // with no per-query cache clear, so a bare .persist() here would
      // otherwise pin tcnt for the rest of the session (ADVICE r6)
      Dedup.materializeAndRelease(
        Sketch.cmsEstimate(top10, "tok", counters, depth, width)
          .select(col("tok"), col("cnt").as("exact_cnt"), col("cms_est"))
          .orderBy(col("exact_cnt").desc, col("tok")),
        tcnt)
    },
      """WITH tok AS (SELECT unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |tcnt AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        |rows_ AS (SELECT unnest(generate_series(0, 3)) AS i),
        |b AS (SELECT i, tok, cnt,
        |  CAST(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || tok), 1, 8))
        |    AS BIGINT) % 4096 AS INT) AS bucket
        |  FROM tcnt, rows_),
        |counters AS (SELECT i, bucket, sum(cnt) AS counter
        |             FROM b GROUP BY i, bucket),
        |top10 AS (SELECT tok, cnt FROM tcnt ORDER BY cnt DESC, tok LIMIT 10)
        |SELECT t.tok, CAST(t.cnt AS BIGINT) AS exact_cnt,
        |  CAST(min(c.counter) AS BIGINT) AS cms_est
        |FROM top10 t
        |JOIN b tb ON tb.tok = t.tok
        |JOIN counters c ON c.i = tb.i AND c.bucket = tb.bucket
        |GROUP BY t.tok, t.cnt
        |ORDER BY exact_cnt DESC, t.tok""".stripMargin),

    // BPE tokenizer training, round 0: adjacent char-pair statistics
    // over the frequency-weighted word vocabulary (chars + </w>), top
    // 50 merge candidates. One wordcount shuffle; everything after runs
    // on the distinct-word table.
    Query("q101_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairStats(Tables.documents(s, dir), "text", topK = 50),
      s"""WITH $BPE_VOCAB_CTE
        |SELECT u.a AS a, u.b AS b, CAST(SUM(c) AS BIGINT) AS pair_count
        |FROM wc CROSS JOIN unnest(list_transform(range(length(w)),
        |  i -> {'a': w[i+1],
        |        'b': CASE WHEN i+2 <= length(w) THEN w[i+2] ELSE '</w>' END})) AS t(u)
        |GROUP BY 1, 2
        |ORDER BY pair_count DESC, a, b
        |LIMIT 50""".stripMargin),

    // Full BPE merge training, 6 rounds: per-round argmax pair + fold
    // merge over the vocabulary. The DuckDB twin replays all 6 rounds
    // exactly (unrolled CTEs with the same left-to-right fold), so the
    // whole iterative trainer is hash-gated.
    Query("q102_bpe_train", (s, dir) =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir), "text", numMerges = 6), bpeTrainOracle(6)),

    // Tokenizer fertility audit: the shared 6-merge vocabulary
    // (sharedBpeVocab — trained once per session/corpus), then
    // per-source subwords-per-word via a word-keyed dictionary join —
    // the corpus is tokenized once and never re-encoded.
    Query("q103_bpe_fertility", (s, dir) =>
      TextAnalysis.bpeFertilityWith(Tables.documents(s, dir), "text",
        groupCol = "source", vocab = sharedBpeVocab(s, dir)), bpeFertilityOracle(6)),

    // Sequence-length distribution per source: exact interpolated
    // percentiles (p50/p90/p99) of the whitespace token count, plus
    // doc/token totals and max. One keyed aggregate; the percentile
    // state is a per-group count-map over the bounded token-count
    // domain.
    Query("q104_seqlen_dist", (s, dir) => {
      val tok = Tables.documents(s, dir).select(col("source"),
        size(graft.functions.tokens(col("text"))).cast("long").as("n_tok"))
      tok.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"),
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.5)), 9).as("p50"),
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.9)), 9).as("p90"),
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.99)), 9).as("p99"),
          max("n_tok").as("max_tokens"))
        .orderBy("source")
    },
      """WITH tok AS (SELECT source,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  round(quantile_cont(n_tok, 0.5), 9) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 9) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 9) AS p99,
        |  max(n_tok) AS max_tokens
        |FROM tok
        |GROUP BY source
        |ORDER BY source""".stripMargin),

    // Tokenizer encode gate: every doc's subword count plus the first
    // 20 subwords in document order under the shared trained 6-merge
    // vocab — encoding as a dictionary join, ordered reassembly per doc.
    Query("q106_bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncodeWith(Tables.documents(s, dir), "doc_id", "text",
        vocab = sharedBpeVocab(s, dir), prefixLen = 20),
      s"""WITH ${bpeRoundsCte(6)},
        |tokd AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |pw AS (SELECT doc_id, u.pos AS pos, u.w AS w
        |  FROM tokd CROSS JOIN unnest(list_transform(range(len(toks)),
        |    i -> {'pos': i, 'w': toks[i+1]})) AS t(u)
        |  WHERE u.w <> '')
        |SELECT doc_id, CAST(SUM(len(v.s)) AS BIGINT) AS n_subwords,
        |  array_to_string(flatten(list(v.s ORDER BY pos))[1:20], ' ') AS prefix
        |FROM pw JOIN v6 v USING (w)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // Dataset-card capstone: the per-source release report a corpus
    // ships with — manifest (docs/tokens/unique/LM-NLL), sequence-
    // length distribution (exact p50/p90/p99/max), and tokenizer
    // fertility under the trained 6-merge vocab — three independent
    // aggregate pipelines joined on the tiny source key.
    Query("q107_dataset_card", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the card is a report: its manifest section reads the shared
      // corpus LM scores (q66 gates the LM live), the same discipline
      // as its fertility section below
      val manifest = TextAnalysis.corpusManifestWith(docs, "doc_id", "text",
        groupCols = Seq("source"), scored = sharedLmScores(s, dir))
      val dist = docs.select(col("source"),
          size(graft.functions.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.5)), 9).as("p50"),
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.9)), 9).as("p90"),
          graft.functions.hashSafeRound(
            percentile(col("n_tok"), lit(0.99)), 9).as("p99"),
          max("n_tok").as("max_tokens"))
      // the fertility section consumes the SHARED pre-trained vocab —
      // the card is a report, and reports must not re-run the trainer
      // (VERDICT r9 item 5: one trainer run per corpus, not per report)
      val fert = TextAnalysis.bpeFertilityWith(docs, "text",
        groupCol = "source", vocab = sharedBpeVocab(s, dir))
      manifest.join(dist, "source").join(fert, "source").orderBy("source")
    },
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM tok),
        |scored AS (
        |  SELECT doc_id, COUNT(*) AS ntok,
        |    CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) /
        |      CAST(total AS DOUBLE)), 9) AS DECIMAL(30,9)))
        |      * -1000000000 AS BIGINT) // COUNT(*) AS nll_mean_nano
        |  FROM tok JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id),
        |base AS (SELECT d.doc_id, d.source,
        |    sha256(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))))
        |      AS nt,
        |    s.ntok, s.nll_mean_nano
        |  FROM documents d JOIN scored s USING (doc_id)),
        |man AS (SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |  COUNT(DISTINCT nt) AS n_unique,
        |  CAST(SUM(nll_mean_nano) AS BIGINT) // COUNT(*) AS mean_nll_nano
        |  FROM base GROUP BY source),
        |tok2 AS (SELECT source,
        |  CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |dist AS (SELECT source,
        |  round(quantile_cont(n_tok, 0.5), 9) AS p50,
        |  round(quantile_cont(n_tok, 0.9), 9) AS p90,
        |  round(quantile_cont(n_tok, 0.99), 9) AS p99,
        |  max(n_tok) AS max_tokens
        |  FROM tok2 GROUP BY source),
        |${bpeRoundsCte(6)},
        |ws AS (SELECT source, w, COUNT(*) AS c FROM (
        |  SELECT source, unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents) WHERE w <> '' GROUP BY 1, 2),
        |fert AS (SELECT source, CAST(SUM(ws.c) AS BIGINT) AS n_words,
        |  CAST(SUM(ws.c * len(v.s)) AS BIGINT) AS n_subwords,
        |  round(CAST(SUM(ws.c * len(v.s)) AS DOUBLE) / CAST(SUM(ws.c) AS DOUBLE), 9) AS fertility
        |  FROM ws JOIN v6 v USING (w) GROUP BY source)
        |SELECT source, n_docs, total_tokens, n_unique, mean_nll_nano,
        |  p50, p90, p99, max_tokens, n_words, n_subwords, fertility
        |FROM man JOIN dist USING (source) JOIN fert USING (source)
        |ORDER BY source""".stripMargin),

    // EXACT heavy hitters (count > n/k) by the two-pass
    // candidates-then-recount scheme over a native mergeable
    // Misra-Gries aggregate: neither pass shuffles the token domain —
    // the summary is a fixed-capacity buffer, the recount groups into
    // ≤ capacity+1 buckets. The answer is exact (candidate superset
    // guarantee + exact integer recount filter), so the twin is the
    // plain HAVING-threshold SQL.
    Query("q146_heavy_hitters", (s, dir) =>
      operators.Sketch.heavyHittersExact(
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("tok")),
        "tok", k = HeavyHitterK),
      s"""WITH tok AS (SELECT unnest(string_split(lower(trim(
        |    regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT w AS item, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 9) AS share
        |FROM c, n WHERE cnt * $HeavyHitterK > n
        |ORDER BY cnt DESC, item""".stripMargin),

    // Histogram-quantile audit: per-source p50/p90/p99 token-count
    // quantiles read from fixed 8-token bins — the MERGEABLE scale
    // path for q104's exact percentile (whose agg buffer materializes
    // every group value). Integer cross-multiply threshold, ±binWidth
    // precision; the one shuffle moves (source, bin) counts, not rows.
    Query("q157_binned_quantiles", (s, dir) => {
      val tok = Tables.documents(s, dir).select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      operators.Profile.binnedQuantiles(tok, "source", "n_tok",
        binWidth = TokQuantileBinTokens, pcts = TokQuantilePcts)
    },
      s"""WITH tok AS (SELECT source,
        |    CAST(len(string_split(lower(trim(
        |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |b AS (SELECT source, n_tok // $TokQuantileBinTokens AS bin,
        |    COUNT(*) AS n
        |  FROM tok GROUP BY 1, 2),
        |c AS (SELECT source, bin,
        |    CAST(SUM(n) OVER (PARTITION BY source ORDER BY bin)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total
        |  FROM b),
        |p AS (SELECT source, bin, pct FROM c
        |  CROSS JOIN (SELECT unnest([${TokQuantilePcts.mkString(", ")}])
        |    AS pct)
        |  WHERE cum * 100 >= pct * total)
        |SELECT source, CAST(pct AS INTEGER) AS pct, MIN(bin) AS q_bin,
        |  MIN(bin) * $TokQuantileBinTokens AS q_lo,
        |  (MIN(bin) + 1) * $TokQuantileBinTokens - 1 AS q_hi
        |FROM p GROUP BY 1, 2 ORDER BY source, pct""".stripMargin),

    // Language-ID audit: label × predicted confusion matrix under the
    // stopword-profile voter (argmax of matched-token fractions, ties
    // to profile order) plus the matched/total token mass per cell as
    // int64 sums (one final division would be the rate — no float
    // averaging crosses the gate). Per-row scoring, one bounded-key
    // aggregate.
    Query("q158_langid_confusion", (s, dir) => {
      val toks = tokens(col("text"))
      val matched = LangIdProfiles.map { case (lang, words) =>
        size(filter(toks, t => t.isin(words.map(lit): _*)))
          .cast("long").as(s"m_$lang") }
      val base = Tables.documents(s, dir).select(
        col("lang") +: size(toks).cast("long").as("n_tok") +:
          TextAnalysis.langIdPredict(col("text"), LangIdProfiles).as("pred") +:
          matched: _*)
      val mPred = LangIdProfiles.map { case (lang, _) =>
        when(col("pred") === lang, col(s"m_$lang")) }.reduce(coalesce(_, _))
      base.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(mPred).as("matched_tokens"),
          sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("lang"), col("pred"))
    }, {
      // the twin replays langIdPredict's left-fold argmax ("later
      // profile wins only on STRICTLY greater score") on the integer
      // matched counts — equivalent because every score shares the
      // document's token-count denominator
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      val Seq((n1, w1), (n2, w2), (n3, w3)) = LangIdProfiles
      s"""WITH tok AS (SELECT lang,
        |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |m AS (SELECT lang, CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, t -> t IN (${inList(w1)}))) AS BIGINT) AS m1,
        |    CAST(len(list_filter(toks, t -> t IN (${inList(w2)}))) AS BIGINT) AS m2,
        |    CAST(len(list_filter(toks, t -> t IN (${inList(w3)}))) AS BIGINT) AS m3
        |  FROM tok),
        |p AS (SELECT lang, n_tok,
        |    CASE WHEN m3 > (CASE WHEN m2 > m1 THEN m2 ELSE m1 END) THEN '$n3'
        |         WHEN m2 > m1 THEN '$n2' ELSE '$n1' END AS pred,
        |    CASE WHEN m3 > (CASE WHEN m2 > m1 THEN m2 ELSE m1 END) THEN m3
        |         WHEN m2 > m1 THEN m2 ELSE m1 END AS m_pred
        |  FROM m)
        |SELECT lang, pred, COUNT(*) AS n_docs,
        |  CAST(SUM(m_pred) AS BIGINT) AS matched_tokens,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        |FROM p GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin
    }),

    // Pairwise per-source unigram Jensen-Shannon divergence: corpus
    // drift between sources; closed-form unshared-mass term so the
    // only join is the inner token join.
    Query("q117_source_divergence", (s, dir) =>
      operators.TextAnalysis.sourceDivergence(
        Tables.documents(s, dir), "text", "source"),
      // shared-token terms via the q66 round-9/DECIMAL idiom; unshared
      // probability mass contributes 0.5*ln(2)*(1 - sharedMass) in
      // closed form (m = p/2 there), pinned as one double chain
      """WITH tok AS (SELECT source AS src, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |tk AS (SELECT src, tok FROM tok WHERE len(tok) > 0),
        |cnt AS (SELECT src, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
        |tot AS (SELECT src, COUNT(*) AS tot FROM tk GROUP BY 1),
        |sh AS (SELECT a.src AS src_a, b.src AS src_b,
        |         a.cnt AS cnt_a, b.cnt AS cnt_b, ta.tot AS tot_a, tb.tot AS tot_b
        |       FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.src < b.src
        |       JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src),
        |pm AS (SELECT src_a, src_b, cnt_a, cnt_b,
        |         CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS pa,
        |         CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS pb
        |       FROM sh),
        |tm AS (SELECT src_a, src_b, cnt_a, cnt_b,
        |         CAST(round(0.5 * (pa * ln(pa / ((pa + pb) / 2))
        |           + pb * ln(pb / ((pa + pb) / 2))), 9) AS DECIMAL(30,9)) AS contrib
        |       FROM pm),
        |agg AS (SELECT src_a, src_b, COUNT(*) AS n_shared,
        |          CAST(SUM(cnt_a) AS BIGINT) AS sh_a,
        |          CAST(SUM(cnt_b) AS BIGINT) AS sh_b, SUM(contrib) AS c
        |        FROM tm GROUP BY 1, 2),
        |pairs AS (SELECT a.src AS src_a, b.src AS src_b,
        |            a.tot AS tot_a, b.tot AS tot_b
        |          FROM tot a JOIN tot b ON a.src < b.src)
        |SELECT p.src_a, p.src_b, COALESCE(n_shared, 0) AS n_shared,
        |  CAST(COALESCE(c, 0) AS DOUBLE)
        |    + (0.5 * ln(2)) * (CAST(tot_a - COALESCE(sh_a, 0) AS DOUBLE)
        |        / CAST(tot_a AS DOUBLE))
        |    + (0.5 * ln(2)) * (CAST(tot_b - COALESCE(sh_b, 0) AS DOUBLE)
        |        / CAST(tot_b AS DOUBLE)) AS js
        |FROM pairs p LEFT JOIN agg USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin),

    // Lexical diversity per source: vocab/hapax/TTR — the lexical-
    // health audit next to the Zipf/Heaps fits.
    Query("q123_lexical_diversity", (s, dir) =>
      operators.TextAnalysis.lexicalDiversity(
        Tables.documents(s, dir), "text", "source"),
      """WITH tok AS (SELECT source, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, COUNT(*) AS cnt FROM tok
        |  WHERE len(tok) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS vocab,
        |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE)
        |    AS ttr,
        |  CAST(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
        |FROM cnt
        |GROUP BY source
        |ORDER BY source""".stripMargin),

    // Tokenizer integrity: every trained subword sequence must
    // concatenate back to its word + '</w>' (0 violations) — a
    // standing regression gate on the BPE merge fold, audited over the
    // shared pre-trained vocabulary.
    Query("q136_bpe_integrity", (s, dir) =>
      operators.TextAnalysis.bpeVocabIntegrityWith(sharedBpeVocab(s, dir)),
      // the twin replays the 6-round trainer (bpeRoundsCte) and checks
      // the SAME concatenation property over its own vocabulary
      s"""WITH ${bpeRoundsCte(6)}
        |SELECT COUNT(*) AS n_words,
        |  CAST(SUM(len(s)) AS BIGINT) AS n_subwords,
        |  CAST(MAX(len(s)) AS BIGINT) AS max_subwords,
        |  CAST(SUM(CASE WHEN list_aggregate(s, 'string_agg', '')
        |      <> w || '</w>' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM v6""".stripMargin),

    // Chi-square independence audit of the documents lang × source
    // contingency — full label cross including zero-observed cells,
    // per-cell terms only (a chi² total would sum doubles in
    // engine-dependent order; the dsum fold is the reader's one line).
    Query("q168_contingency_chi2", (s, dir) =>
      operators.Profile.contingencyChi2(
        Tables.documents(s, dir), "lang", "source"),
      """WITH cell AS (SELECT lang, source, COUNT(*) AS obs
        |    FROM documents GROUP BY 1, 2),
        |  rm AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_margin
        |    FROM cell GROUP BY 1),
        |  cm AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_margin
        |    FROM cell GROUP BY 1),
        |  tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM cell)
        |SELECT rm.lang, cm.source, COALESCE(obs, 0) AS obs,
        |  row_margin, col_margin,
        |  CAST(row_margin AS DOUBLE) * CAST(col_margin AS DOUBLE) /
        |    CAST(total AS DOUBLE) AS expected,
        |  POWER(CAST(COALESCE(obs, 0) AS DOUBLE) - expected, 2) / expected
        |    AS chi2_term
        |FROM rm CROSS JOIN cm
        |LEFT JOIN cell ON cell.lang = rm.lang AND cell.source = cm.source
        |CROSS JOIN tot
        |ORDER BY rm.lang, cm.source""".stripMargin),

    // Adjacent-bigram PMI collocations (Church & Hanks) — counts from
    // two keyed one-pass aggregates, the coefficient ONE fixed double
    // chain over exact int64 counts, support-filtered.
    Query("q170_bigram_pmi", (s, dir) =>
      TextAnalysis.bigramPmi(Tables.documents(s, dir), "text",
        minCount = BigramPmiMinCount),
      s"""WITH tok AS (SELECT string_split(lower(trim(
        |    regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |uni AS (SELECT unnest(toks) AS w FROM tok),
        |c1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
        |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
        |bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
        |    i -> struct_pack(prev := toks[i+1], cur := toks[i+2]))) AS b
        |  FROM tok WHERE len(toks) >= 2),
        |c2 AS (SELECT b.prev AS prev, b.cur AS cur, COUNT(*) AS n_pair
        |  FROM bg GROUP BY 1, 2),
        |nb AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n FROM c2)
        |SELECT prev, cur, n_pair,
        |  round(ln(CAST(n_pair AS DOUBLE)) + 2 * ln(CAST(nu.n AS DOUBLE))
        |    - ln(CAST(nb.n AS DOUBLE)) - ln(CAST(p.c AS DOUBLE))
        |    - ln(CAST(q.c AS DOUBLE)), 9) AS pmi
        |FROM c2 JOIN c1 p ON c2.prev = p.w JOIN c1 q ON c2.cur = q.w
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE n_pair >= $BigramPmiMinCount
        |ORDER BY n_pair DESC, prev, cur""".stripMargin),

    // 2-D Pareto frontier of the documents corpus on (chars, distinct
    // tokens) — the "longest docs with the richest vocabulary" skyline,
    // computed via per-x max + running max over the distinct-x
    // aggregate, NOT an n² dominance join.
    Query("q174_pareto_frontier", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("n_chars"),
        size(array_distinct(tokens(col("text")))).cast("long")
          .as("n_types"))
      operators.Profile.paretoFrontier(docs, "doc_id", "n_chars",
        "n_types")
    },
      """WITH p AS (SELECT doc_id, n_chars AS x,
        |    CAST(len(list_distinct(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT)
        |      AS y
        |  FROM documents),
        |g AS (SELECT x, max(y) AS maxy FROM p GROUP BY 1),
        |c AS (SELECT x, maxy, max(maxy) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prevmax
        |  FROM g)
        |SELECT doc_id, x AS n_chars, y AS n_types
        |FROM p JOIN c USING (x)
        |WHERE y = maxy AND (prevmax IS NULL OR prevmax < y)
        |ORDER BY n_chars DESC, doc_id""".stripMargin),

    // Median/MAD robust outlier audit of document lengths per source —
    // exact interpolated medians (0.25-multiple rationals, no rounding
    // needed), engine-exact k·MAD compare.
    Query("q177_robust_outliers", (s, dir) =>
      operators.Profile.robustOutliers(
        Tables.documents(s, dir), "source", "n_chars", MadK),
      s"""WITH v AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents),
        |m AS (SELECT g, quantile_cont(v, 0.5) AS med, COUNT(*) AS n
        |  FROM v GROUP BY 1),
        |d AS (SELECT v.g, abs(v.v - m.med) AS ad FROM v JOIN m USING (g)),
        |md AS (SELECT g, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT m.g AS source, m.n, m.med AS med, md.mad AS mad,
        |  CAST(SUM(CASE WHEN d.ad > $MadK * md.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN d.ad > $MadK * md.mad THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(m.n AS DOUBLE) AS outlier_frac
        |FROM d JOIN m USING (g) JOIN md USING (g)
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1""".stripMargin),

    // Exact document-length quantiles per language by domain
    // compression — |distinct lengths| ≪ |docs|, so the (lang, length)
    // dictionary aggregate + integer-threshold cumulative is exact at
    // any scale (the third quantile leg next to q157's mergeable bins).
    Query("q199_length_quantiles", (s, dir) =>
      operators.Profile.domainQuantiles(Tables.documents(s, dir),
        "lang", "n_chars", DomainQuantilePcts), {
      val qcols = DomainQuantilePcts.map(p =>
        s"  MIN(CASE WHEN cum * 100 >= n * $p THEN v END) AS p$p")
        .mkString(",\n")
      s"""WITH c AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
        |    COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cu AS (SELECT g, v,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM c)
        |SELECT g AS lang, MAX(n) AS n,
        |$qcols
        |FROM cu GROUP BY 1 ORDER BY lang""".stripMargin
    }),

    // Exact pairwise source vocabulary Jaccard — the corpus-mixing
    // audit q69 estimates with HLL registers, here exact: the
    // (source, token) distinct projection joins ITSELF on the token
    // key (never all-pairs rows), sizes ride a broadcast-side join,
    // one divide per source pair.
    Query("q200_source_vocab_jaccard", (s, dir) => {
      // session-shared distinct (source, tok) vocabulary (built once
      // per corpus; tokenization stays live in q65/q85/q86/q146)
      val tok = sharedSourceVocab(s, dir)
      val sizes = tok.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = tok.select(col("source").as("source_a"), col("tok"))
        .join(tok.select(col("source").as("source_b"), col("tok")),
          Seq("tok"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("sz").as("na"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("sz").as("nb"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_common"),
          (col("n_common").cast("double") /
            (col("na") + col("nb") - col("n_common")).cast("double"))
            .as("vocab_jaccard"))
        .orderBy("source_a", "source_b")
    },
      """WITH t0 AS (SELECT source, unnest(string_split(lower(trim(
        |    regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |tok AS (SELECT DISTINCT source, tok FROM t0),
        |sz AS (SELECT source, COUNT(*) AS sz FROM tok GROUP BY 1),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |    COUNT(*) AS n_common
        |  FROM tok a JOIN tok b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        |  CAST(n_common AS DOUBLE) /
        |    CAST(na.sz + nb.sz - n_common AS DOUBLE) AS vocab_jaccard
        |FROM i JOIN sz na ON i.source_a = na.source
        |JOIN sz nb ON i.source_b = nb.source
        |ORDER BY 1, 2""".stripMargin)
  )
}
