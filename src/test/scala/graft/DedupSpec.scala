package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Deduplication operators on a tiny corpus with hand-computable
  * Jaccard values; LSH variants are checked against the exact answer.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** docs 1/2 near-identical (J=7/9 at 2-gram), 3 unrelated, 4=dup of 3. */
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text about data pipelines"),
    (4L, "completely different text about data pipelines"),
    (5L, "short")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized text, keeps min id (ref darkpool_trades/main.py:88-92)") {
    val out = Dedup.exact(docs, "doc_id", "text")
    out.count() shouldBe 4 // docs 3,4 collapse
    val dupGroup = out.filter($"dup_count" === 2).collect()(0)
    dupGroup.getAs[Long]("canonical_id") shouldBe 3L
  }

  test("exact dedup is whitespace/case insensitive via normText") {
    val messy = Seq((1L, "Hello  World"), (2L, "hello world "), (3L, "other")).toDF("doc_id", "text")
    Dedup.exact(messy, "doc_id", "text").count() shouldBe 2
  }

  test("dupSizeHistogram: cluster sizes, doc mass, corpus shares") {
    val corpus = Seq(
      (1L, "same text"), (2L, "same  TEXT"), (3L, "same text"), // norm: 3 copies
      (4L, "pair"), (5L, "pair"),
      (6L, "unique"))
      .toDF("doc_id", "text")
    val rows = Dedup.dupSizeHistogram(corpus, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.toSeq shouldBe Seq(
      (1L, 1L, 1L, 1.0 / 6.0),
      (2L, 1L, 2L, 2.0 / 6.0),
      (3L, 1L, 3L, 3.0 / 6.0))
  }

  test("jaccardSimilarityJoin finds exactly the hand-computed qualifying pairs") {
    // 2-gram shingles of docs 1,2: 8 each, 7 shared -> J = 7/9 ≈ 0.778
    // docs 3,4 identical -> J = 1. No other pair reaches 0.5.
    val out = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", n = 2, t = 0.5)
      .orderBy($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    out.length shouldBe 2
    out(0)._1 shouldBe 1L; out(0)._2 shouldBe 2L
    out(0)._3 shouldBe (7.0 / 9.0) +- 1e-12
    out(1)._1 shouldBe 3L; out(1)._2 shouldBe 4L
    out(1)._3 shouldBe 1.0
  }

  test("jaccardSimilarityJoin matches brute force at float-hostile thresholds (ceilSafe)") {
    // t = 0.1 / 0.3 / 0.7 have no exact double representation; a plain
    // ceil over `t * sz` can round one ulp above the true integer
    // threshold and over-prune candidates. Compare against the
    // filter-free brute-force pair set at each threshold.
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "a b c x y z q r s t"),
      (4L, "u v w x y z a a b b"),
      (5L, "m n o p q r s t u v"),
      (6L, "a b c d e f g h i j") // exact dup of 1
    ).toDF("doc_id", "text")
    def shingleSets: Map[Long, Set[String]] =
      Dedup.shingles(corpus, "doc_id", "text", 2).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val sets = shingleSets
    for (t <- Seq(0.1, 0.3, 0.5, 0.7)) {
      val brute = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        j = inter.toDouble / (sets(a) ++ sets(b)).size
        if j >= t
      } yield (a, b)).toSet
      val got = Dedup.jaccardSimilarityJoin(corpus, "doc_id", "text", 2, t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"t=$t: ") { got shouldBe brute }
    }
  }

  test("property: connectedComponents equals driver-side union-find on random graphs (3 seeds)") {
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (1 to 50).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = touched.map(v => v -> {
        // canonical = min id reachable; path-compress by re-finding
        var r = v.toInt; while (parent(r) != r) r = parent(r); r.toLong
      }).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), maxIter = 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"seed=$seed: ") {
        // same partition into components, with min-id canonical labels:
        // union-find parent roots ARE min ids here because unions always
        // point the larger root at the smaller
        got shouldBe expected
      }
    }
  }

  test("property: jaccardSimilarityJoin equals brute force on random corpora (3 seeds, 2 thresholds)") {
    // fuzz the prefix/positional/length filter math: random docs from a
    // tiny vocabulary force heavy shingle sharing, duplicates, and
    // boundary-length documents — exactly where an off-by-one in the
    // overlap bound would silently drop a qualifying pair
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1L to 40L).map { id =>
        val len = 3 + rnd.nextInt(10)
        val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
        // sprinkle exact duplicates: every 10th doc copies the previous
        (id, if (id % 10 == 0) null else words.mkString(" "))
      }.foldLeft(Vector.empty[(Long, String)]) { case (acc, (id, w)) =>
        acc :+ (id -> (if (w == null) acc.last._2 else w))
      }.toDF("doc_id", "text")
      val sets = Dedup.shingles(corpus, "doc_id", "text", 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      for (t <- Seq(0.3, 0.5)) {
        val brute = (for {
          a <- sets.keys; b <- sets.keys if a < b
          inter = (sets(a) & sets(b)).size
          j = inter.toDouble / (sets(a) ++ sets(b)).size
          if j >= t
        } yield (a, b)).toSet
        val got = Dedup.jaccardSimilarityJoin(corpus, "doc_id", "text", 3, t)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        withClue(s"seed=$seed t=$t: ") { got shouldBe brute }
      }
    }
  }

  test("PostingCount and PrefixIndex strategies emit identical rows (ids, counts, AND scores)") {
    // the strategy choice is a pure cost decision — the full 5-column
    // output contract must be bit-identical either way, on the same
    // shingle-heavy fuzz corpora the brute-force property uses
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1L to 40L).map { id =>
        val len = 3 + rnd.nextInt(10)
        val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
        (id, if (id % 10 == 0) null else words.mkString(" "))
      }.foldLeft(Vector.empty[(Long, String)]) { case (acc, (id, w)) =>
        acc :+ (id -> (if (w == null) acc.last._2 else w))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.5)) {
        def rows(join: (DataFrame, DataFrame) => DataFrame) = {
          val (sh, dfreq) = Dedup.shingleIndex(corpus, "doc_id", "text", 3)
          join(sh, dfreq)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getDouble(4))).toSet
        }
        withClue(s"seed=$seed t=$t: ") {
          rows((sh, _) => Dedup.postingCountJoin(sh, t)) shouldBe
            rows(Dedup.prefixIndexJoin(_, _, t, None))
        }
      }
    }
  }

  test("containmentJoin finds excerpts, respects word boundaries, orients equal texts by id") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "quick brown fox jumps"),            // excerpt of 1
      (3L, "the  QUICK   brown fox jumps over the lazy dog tonight"), // equal to 1 normalized
      (4L, "cat sat on a mat"),                 // no container
      (5L, "concatenate cat sat on a matter"),  // word-boundary trap for 4
      (6L, "over the lazy dog"),                // excerpt of 1 and 3
      (7L, "to be")                             // < n tokens: ineligible
    ).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(corpus, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set(
      (2L, 1L), (2L, 3L),  // excerpt in both copies
      (6L, 1L), (6L, 3L),
      (1L, 3L))            // equal texts orient by id (1 < 3)
    // notably ABSENT: (4,5) — "cat sat on a mat" is not a
    // word-boundary substring of "concatenate cat sat on a matter"
  }

  test("containmentJoin equals brute force on random corpora (3 seeds)") {
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val base = (1L to 30L).map { id =>
        val len = 3 + rnd.nextInt(8)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant real excerpts: every 5th doc is a random slice of the previous
      val corpus = base.map { case (id, text) =>
        if (id % 5 == 0) {
          val prev = base((id - 2).toInt)._2.split(" ")
          val from = rnd.nextInt(math.max(1, prev.length - 3))
          (id, prev.slice(from, from + 3 + rnd.nextInt(3)).mkString(" "))
        } else (id, text)
      }
      val norm = corpus.map { case (id, t) =>
        id -> t.toLowerCase.replaceAll("\\s+", " ").trim
      }.toMap
      // .toSeq matters: a for-yield of pairs over a Map rebuilds a MAP,
      // collapsing two containments that share id_a
      val eligible = norm.filter(_._2.split(" ").length >= 3).toSeq
      val brute = (for {
        (a, na) <- eligible; (b, nb) <- eligible
        if a != b &&
          (na.length < nb.length || (na.length == nb.length && a < b)) &&
          s" $nb ".contains(s" $na ")
      } yield (a, b)).toSet
      val got = Dedup.containmentJoin(corpus.toDF("doc_id", "text"),
          "doc_id", "text", n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"seed=$seed: ") { got shouldBe brute }
    }
  }

  test("Auto strategy routing: flat df distributions go direct, corpus-hot shingles force the prefix index") {
    // sf0.1-shaped stats (max df 25, ratio ≈ 4.3× postings) → direct
    Dedup.directWithinBudget(pairRows = 1.1e6, postings = 260e3) shouldBe true
    // 10×-clone stress (every shingle df ≈ 100, ratio ≈ 48×) → prefix
    Dedup.directWithinBudget(pairRows = 125e6, postings = 2.6e6) shouldBe false
    // one shingle in every doc of a 1e9-corpus: pair rows ≈ 5e17 —
    // far beyond any factor of the posting volume, and the double
    // arithmetic must not wrap negative the way a long product would
    Dedup.directWithinBudget(pairRows = 5e17, postings = 5e10) shouldBe false
  }

  test("prefixDfCap drops only index entries: generous cap is exact, any cap yields a subset with exact scores") {
    val exact = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // cap above every df -> identical output
    val generous = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5,
      prefixDfCap = Some(1000L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    generous shouldBe exact
    // aggressive cap -> subset (verification is exact, so never MORE
    // pairs, and surviving pairs keep their exact scores)
    val aggressive = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5,
      prefixDfCap = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    aggressive.subsetOf(exact) shouldBe true
  }

  test("minhashLsh output equals the exact Jaccard pair set (32x2 bands)") {
    val exact = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 2, 0.5, bands = 32, rows = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe exact
  }

  test("minhashLsh at the q38 dial (72x2, n=3, t=0.5) equals the exact pair set on fuzz corpora") {
    // q38_dup_components feeds connectedComponents from minhashLsh with
    // this exact dial instead of re-running the uncapped exact prefix
    // join (r5's slowest query). The band sizing makes per-pair miss
    // (1 - J^2)^72 ≤ 0.75^72 ≈ 1e-9 at the J = 0.5 threshold, so the
    // pair sets must be EQUAL in practice — pinned here on the same
    // shingle-heavy fuzz corpora the exact join is propertied on, and
    // verified equal on the real documents table at sf0.01 (25 = 25)
    // and sf0.1 (256 = 256) before the swap landed.
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (1L to 40L).map { id =>
        val len = 3 + rnd.nextInt(10)
        val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
        (id, if (id % 10 == 0) null else words.mkString(" "))
      }.foldLeft(Vector.empty[(Long, String)]) { case (acc, (id, w)) =>
        acc :+ (id -> (if (w == null) acc.last._2 else w))
      }.toDF("doc_id", "text")
      val exact = Dedup.jaccardSimilarityJoin(corpus, "doc_id", "text", 3, 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Dedup.minhashLsh(corpus, "doc_id", "text", 3, 0.5, bands = 72, rows = 2)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"seed=$seed: ") { lsh shouldBe exact }
    }
  }

  test("minhashLsh drops empty-shingle docs before banding (no all-null-signature bucket blowup)") {
    // whitespace/short docs produce ZERO shingles; their signatures
    // would be k nulls, colliding in one bucket per band — O(n_empty²)
    // candidates. They can never reach J ≥ t > 0, so excluding them
    // from the signature path must not change the output.
    val withEmpties = docs.unionByName(Seq(
      (100L, ""), (101L, " "), (102L, "  "), (103L, "x")
    ).toDF("doc_id", "text"))
    val exact = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(withEmpties, "doc_id", "text", 2, 0.5,
        bands = 32, rows = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe exact
  }

  test("native minhashSignature is bit-identical to the HOF xxhash64 formulation") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 2)
    val hof = sh.select($"id", transform(sequence(lit(0), lit(15)),
        i => array_min(transform($"sh", s => xxhash64(i, s)))).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val native = sh.select($"id", Dedup.minhashSignature($"sh", 16).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    native shouldBe hof
    // and over pre-hashed long shingles too
    val hashed = sh.select($"id", transform($"sh", s => xxhash64(s)).as("sh"))
    val hofL = hashed.select($"id", transform(sequence(lit(0), lit(15)),
        i => array_min(transform($"sh", s => xxhash64(i, s)))).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val nativeL = hashed.select($"id", Dedup.minhashSignature($"sh", 16).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    nativeL shouldBe hofL
  }

  test("minhashSignature is deterministic and monotone under subset growth") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 2)
    val sig1 = sh.select($"id", Dedup.minhashSignature($"sh", 16).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq)
    val sig2 = sh.select($"id", Dedup.minhashSignature($"sh", 16).as("sig"))
      .orderBy($"id").collect().map(_.getSeq[Long](1).toSeq)
    sig1.toSeq shouldBe sig2.toSeq   // deterministic across runs
    all(sig1.map(_.size).toSeq) shouldBe 16
  }

  test("hammingPairs pigeonhole candidates are complete: equals brute-force hamming join") {
    val fp = Dedup.simhashPortable64(docs, "doc_id", "text")
    val viaBands = Dedup.hammingPairs(fp, 64, maxHamming = 16)
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = fp.as("a").join(fp.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("h"))
      .filter(col("h") <= 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    viaBands shouldBe brute
    // identical docs 3,4 have hamming 0
    assert(viaBands.contains((3L, 4L, 0L)))
  }

  test("connectedComponents: min-label propagation over chains, pairs and triangles") {
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), isolated pair
    // 10-11, triangle 20-21-22
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
  }

  test("connectedComponents property: equals driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // union-find with union-by-min: the root is always the component min
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          maxIter = 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe expected
    }
  }

  test("canonicalize tags every doc with its cluster canonical and a keep flag") {
    val pairs = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 0.5)
    val comps = Dedup.connectedComponents(pairs)
    val out = Dedup.canonicalize(docs, "doc_id", comps)
      .select("doc_id", "canonical_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // pairs: (1,2) J=7/9 and (3,4) J=1 -> clusters {1,2}->1, {3,4}->3;
    // doc 5 is untouched and keeps itself
    out shouldBe Set(
      (1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 3L, false),
      (5L, 5L, true))
    // exactly one kept representative per canonical id
    out.groupBy(_._2).foreach { case (_, rows) =>
      rows.count(_._3) shouldBe 1
    }
  }

  test("connectedComponents refuses to return unconverged (silently wrong) labels") {
    // a 6-node chain has diameter 5; with maxIter=2 the min label cannot
    // reach the far end — must throw, not return partial propagation
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    an[IllegalStateException] should be thrownBy
      Dedup.connectedComponents(chain, maxIter = 2)
    // and converges fine with the default budget
    val got = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.values.toSet shouldBe Set(1L)
  }

  test("canonicalizeByPreference keeps the best-quality copy per cluster; singletons are their own rep") {
    import spark.implicits._
    // cluster {1,2,3} with quality peaking at 2; cluster {5,6} tied on
    // quality → min id wins via the -id struct leg; 9 is a singleton
    val docs = Seq(
      (1L, 0.4), (2L, 0.9), (3L, 0.7),
      (5L, 0.5), (6L, 0.5),
      (9L, 0.1)).toDF("doc_id", "quality")
    val cc = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "comp")
    val out = Dedup.canonicalizeByPreference(docs, "doc_id", cc,
        struct($"quality", -$"doc_id"))
      .select("doc_id", "comp", "rep_id", "is_rep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    out.toSeq shouldBe Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (5L, 5L, 5L, true), (6L, 5L, 5L, false),
      (9L, 9L, 9L, true))
  }

  test("native simhashPortable64 is bit-identical to the explode + 64-sums formulation") {
    import graft.functions.tokens
    val tok = docs.select($"doc_id".as("id"), explode(tokens($"text")).as("tk"))
      .select($"id", md5($"tk").as("h1"), md5(concat(lit("x"), $"tk")).as("h2"))
    val sums = (0 until 32).map(i =>
        sum(when(substring($"h1", i + 1, 1) >= "8", 1).otherwise(-1)).as(s"b$i")) ++
      (0 until 32).map(i =>
        sum(when(substring($"h2", i + 1, 1) >= "8", 1).otherwise(-1)).as(s"b${i + 32}"))
    val agg = tok.groupBy("id").agg(sums.head, sums.tail: _*)
    val fp = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val reference = agg.select($"id", fp.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = Dedup.simhashPortable64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    native shouldBe reference
  }

  test("native simhash (xxhash64) is bit-identical to the explode + sum(when) formulation") {
    import graft.functions.tokens
    val tok = docs.select($"doc_id".as("id"), explode(tokens($"text")).as("tk"))
      .select($"id", xxhash64($"tk").as("h"))
    val sums = (0 until 64).map(i =>
      sum(when(shiftright($"h", i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i"))
    val agg = tok.groupBy("id").agg(sums.head, sums.tail: _*)
    val fp = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val reference = agg.select($"id", fp.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    native shouldBe reference
  }

  test("simhash (xxhash64) and simhashPortable64 both give hamming 0 for identical docs") {
    for (f <- Seq(Dedup.simhash(docs, "doc_id", "text"),
                  Dedup.simhashPortable64(docs, "doc_id", "text"))) {
      val m = f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      m(3L) shouldBe m(4L)
      m(1L) should not be m(3L)
    }
  }

  test("dedupLines drops corpus-hot lines, preserves order, and keeps emptied docs with counts") {
    import spark.implicits._
    // banner in all 4 docs (df=4 > 2); "shared" in 3 (df=3 > 2);
    // bodies unique; doc 4 is ALL boilerplate
    val docs = Seq(
      (1L, "BANNER\nalpha body\nshared\nfooter one"),
      (2L, "BANNER\nbeta body\nshared\nfooter two"),
      (3L, "BANNER\ngamma body\nshared"),
      (4L, "BANNER")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", maxDocFreq = 2L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    got(0) shouldBe ((1L, "alpha body\nfooter one", 2L, 2L))
    got(1) shouldBe ((2L, "beta body\nfooter two", 2L, 2L))
    got(2) shouldBe ((3L, "gamma body", 1L, 2L))
    // fully-boilerplate doc: survives as an explicit empty row, so the
    // caller decides its fate instead of losing it silently
    got(3) shouldBe ((4L, "", 0L, 1L))
    // df counts DISTINCT docs: a line repeated within one doc is not
    // thereby "hot" — both copies survive, in order
    val rep = Seq((1L, "x\ndup\ndup\ny")).toDF("doc_id", "text")
    Dedup.dedupLines(rep, "doc_id", "text", maxDocFreq = 1L)
      .collect().head.getString(1) shouldBe "x\ndup\ndup\ny"
  }

  test("dedupSpans drops cross-doc repeated windows, keeps partial tails and within-doc repeats, empties all-boilerplate docs") {
    import spark.implicits._
    // 4-token windows; "a b c d" occurs in docs 1/2/4 (df=3 > 1)
    val docs = Seq(
      (1L, "a b c d e f g h"),     // -> "e f g h"
      (2L, "a b c d x y z w"),     // -> "x y z w"
      (3L, "p q r s"),             // unique -> unchanged
      (4L, "a b c d"),             // all boilerplate -> ""
      (5L, "m n o p q"),           // partial tail window "q" kept
      (6L, "t u v w t u v w")      // within-doc repeat: df=1, kept
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text",
        windowTokens = 4, maxDocFreq = 1L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    got(0) shouldBe ((1L, "e f g h", 1L, 1L))
    got(1) shouldBe ((2L, "x y z w", 1L, 1L))
    got(2) shouldBe ((3L, "p q r s", 1L, 0L))
    got(3) shouldBe ((4L, "", 0L, 1L))
    got(4) shouldBe ((5L, "m n o p q", 2L, 0L))
    got(5) shouldBe ((6L, "t u v w t u v w", 2L, 0L))
  }

  // --------------------------------------- sorted-neighborhood blocking

  test("sortedNeighborhood: prefix-sharing near-dups pair up with exact Jaccard; prefix-divergent dups are the documented miss") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // 4/6 Jaccard with doc 1
      (3L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (4L, "omega psi chi phi"),             // unrelated block
      (5L, "ALPHA   beta gamma delta epsilon") // normalizes to doc 1
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhood(docs, "doc_id", "text",
        windowSize = 3, prefixLen = 8, keyLen = 24, minJaccardPct = 50)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // sort key = normalized first 24 chars: docs 1,2,3,5 share block
    // "alpha be"; within it, order by (key, id). Every adjacent/skip-1
    // pair among the three exact-dups must appear with Jaccard 1.
    val pairs = got.map(t => (t._1, t._2)).toSet
    pairs should contain((1L, 3L))
    pairs should contain((1L, 5L))
    pairs should contain((3L, 5L))
    // the 4/6 = 66% pair survives the 50% threshold wherever the
    // window reaches it (doc 2 sorts adjacent to the dup run)
    got.filter(t => t._2 == 2L || t._1 == 2L).foreach { t =>
      t._3 shouldBe 4L; t._4 shouldBe 6L
    }
    // doc 4 is in another block: never paired
    got.exists(t => t._1 == 4L || t._2 == 4L) shouldBe false
  }

  test("sortedNeighborhood is partition-invariant and threshold is integer-exact") {
    val docs = (0 until 40).map { i =>
      (i.toLong, s"prefix shared text block ${"word " * (i % 4)}tail $i")
    }.toDF("doc_id", "text")
    val a = rowsOf(Dedup.sortedNeighborhood(docs, "doc_id", "text"))
    val b = rowsOf(Dedup.sortedNeighborhood(docs.repartition(7), "doc_id", "text"))
    a shouldBe b
    // minJaccardPct = 100 keeps only inter == union (exact dup sets)
    rowsOf(Dedup.sortedNeighborhood(docs, "doc_id", "text",
      minJaccardPct = 100)).foreach { r =>
      r(2) shouldBe r(3)
    }
  }

  test("sortedNeighborhood rejects degenerate parameters") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = 1)
    an[IllegalArgumentException] should be thrownBy
      Dedup.sortedNeighborhood(docs, "doc_id", "text",
        prefixLen = 10, keyLen = 5)
    an[IllegalArgumentException] should be thrownBy
      Dedup.sortedNeighborhood(docs, "doc_id", "text", minJaccardPct = 101)
  }

  test("survivorship: per-group retention and cross-group losses") {
    val docs = Seq(
      (1L, "same text", "a"),  // canonical of the shared content
      (2L, "same text", "b"),  // loses cross-group to 1
      (3L, "same text", "a"),  // loses within-group to 1
      (4L, "unique b", "b"),   // kept
      (5L, "b dup", "b"),      // canonical
      (6L, "b dup", "b")       // loses within-group to 5
    ).toDF("doc_id", "text", "source")
    val got = Dedup.survivorship(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    got(0) shouldBe (("a", 2L, 1L, 1L, 0L, 0.5))
    got(1) shouldBe (("b", 4L, 2L, 2L, 1L, 0.5))
    // conservation: kept + dropped = docs per group
    got.foreach(t => t._3 + t._4 shouldBe t._2)
  }

  test("survivorship is partition-invariant and normalizes content") {
    val docs = (0 until 90).map { i =>
      (i.toLong, s"  Doc ${i % 30}  text\t", s"s${i % 4}")
    }.toDF("doc_id", "text", "source")
    val a = rowsOf(Dedup.survivorship(docs, "doc_id", "text", "source"))
    val b = rowsOf(Dedup.survivorship(docs.repartition(11), "doc_id",
      "text", "source"))
    a shouldBe b
    // 30 distinct contents; 90 docs -> 60 dropped across groups
    a.map(_(3).asInstanceOf[Long]).sum shouldBe 60L
    a.map(_(2).asInstanceOf[Long]).sum shouldBe 30L
  }

  test("triangleCount: triangle+pendant+path census; reversed/dup edges canonicalized") {
    // triangle {1,2,3} + pendant 3-4 + path 5-6-7; (2,1) and a dup of
    // (1,3) must collapse into the canonical edge set
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (1L, 3L),
      (3L, 4L), (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val r = Dedup.triangleCount(edges, "id_a", "id_b").collect().head
    r.getLong(0) shouldBe 6L // n_edges
    r.getLong(1) shouldBe 1L // only src=1 fans out two oriented edges
    r.getLong(2) shouldBe 1L
  }

  test("triangleCount: K4 counts every triangle exactly once") {
    val k4 = (for { i <- 1 to 4; j <- 1 to 4 if i < j }
      yield (i.toLong, j.toLong)).toDF("id_a", "id_b")
    val r = Dedup.triangleCount(k4, "id_a", "id_b").collect().head
    r.getLong(0) shouldBe 6L
    r.getLong(1) shouldBe 4L // 3 wedges at src 1 + 1 at src 2, all closed
    r.getLong(2) shouldBe 4L
  }

  test("localClustering: triangle+pendant hand values; per-node sum = 3x census") {
    // triangle 1-2-3 with pendant 4 off node 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
      .toDF("id_a", "id_b")
    val rows = Dedup.localClustering(edges, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    rows(1L) shouldBe ((3L, 1L, 2.0 * 1 / (3 * 2))) // 1/3
    rows(2L) shouldBe ((2L, 1L, 1.0))
    rows(3L) shouldBe ((2L, 1L, 1.0))
    rows(4L) shouldBe ((1L, 0L, 0.0)) // degree-1: defined as 0
    // triangle participation sums to 3 x the census count
    val census = Dedup.triangleCount(edges, "id_a", "id_b")
      .collect().head.getAs[Long]("n_triangles")
    rows.values.map(_._2).sum shouldBe 3L * census
  }

  test("localClustering: K4 is fully clustered; partition-invariant") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    val rows = Dedup.localClustering(k4, "id_a", "id_b").collect()
    rows.foreach { r =>
      r.getAs[Long]("degree") shouldBe 3L
      r.getAs[Long]("n_triangles") shouldBe 3L
      r.getAs[Double]("clustering_coeff") shouldBe 1.0
    }
    rowsOf(Dedup.localClustering(k4.repartition(5), "id_a", "id_b")) shouldBe
      rowsOf(Dedup.localClustering(k4.coalesce(1), "id_a", "id_b"))
  }

  test("degreeAssortativity: star is -1, regular components are +1, constant-degree graph is null") {
    // star K1,3: hub degree 3 against leaves of degree 1 → exactly -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val s = Dedup.degreeAssortativity(star, "id_a", "id_b").collect()
    s.length shouldBe 1
    s.head.getLong(0) shouldBe 3L
    s.head.getDouble(1) shouldBe -1.0
    // triangle + disjoint edge: every stub pairs equal degrees, but
    // the degree marginal has variance → exactly +1
    val mix = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    val m = Dedup.degreeAssortativity(mix, "id_a", "id_b").collect()
    m.head.getLong(0) shouldBe 4L
    m.head.getDouble(1) shouldBe 1.0
    // lone triangle: all degrees equal → zero variance → null
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val t = Dedup.degreeAssortativity(tri, "id_a", "id_b").collect()
    t.head.isNullAt(1) shouldBe true
    // duplicate/reversed pairs collapse; partition-invariant
    val noisy = Seq((2L, 1L), (1L, 2L), (1L, 3L), (1L, 4L))
      .toDF("id_a", "id_b")
    rowsOf(Dedup.degreeAssortativity(noisy.repartition(5),
      "id_a", "id_b")) shouldBe
      rowsOf(Dedup.degreeAssortativity(star, "id_a", "id_b"))
  }

  test("bfsDistances: exact levels from the max-degree hub, min-distance on cycles, unreached and other components absent") {
    // path 1-2-3-4-5 plus chord 1-3 (cycle: node 3 reachable at 1 via
    // the chord, not 2 via the path), plus hub 2's extra leaves 6,7 so
    // node 2 is the unique max-degree seed; disjoint edge (8,9) stays
    // unreached
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (2L, 6L), (2L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val rows = rowsOf(Dedup.bfsDistances(edges, "id_a", "id_b",
      maxDepth = 6))
    rows shouldBe Seq(
      Seq(1L, 1L), Seq(2L, 0L), Seq(3L, 1L), Seq(4L, 2L), Seq(5L, 3L),
      Seq(6L, 1L), Seq(7L, 1L))
    // maxDepth caps the frontier: depth 1 stops at the hub's neighbors
    val shallow = rowsOf(Dedup.bfsDistances(edges, "id_a", "id_b",
      maxDepth = 1))
    shallow shouldBe Seq(
      Seq(1L, 1L), Seq(2L, 0L), Seq(3L, 1L), Seq(6L, 1L), Seq(7L, 1L))
    // partition invariance + validation
    rowsOf(Dedup.bfsDistances(edges.repartition(5), "id_a", "id_b",
      3)) shouldBe rowsOf(Dedup.bfsDistances(edges.coalesce(1),
      "id_a", "id_b", 3))
    an[IllegalArgumentException] should be thrownBy
      Dedup.bfsDistances(edges, "id_a", "id_b", 0)
  }
}
