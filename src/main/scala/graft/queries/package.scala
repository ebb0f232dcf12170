package graft

/** Twin fragments and runtime helpers shared by more than one query
  * family. Family objects read these during their own initialisation,
  * so nothing here may touch [[graft.SparkEntry]].
  *
  * Each family keeps its own query/twin thresholds (ADVICE r9): defined
  * ONCE and interpolated into both the Spark-side call and the DuckDB
  * twin — the q135 rateThresholdHex pattern — so editing a parameter on
  * one side cannot silently desynchronize the hash gate.
  */
package object queries {
  /** tmp roots for the layout round-trip queries (q55/q64), deleted on
    * JVM exit: the returned DataFrame reads the directory lazily, so
    * in-query deletion would break materialization — but without any
    * cleanup every Verify/Bench process (pid-namespaced on purpose, so
    * concurrent harnesses cannot race mid-compact) leaves a fresh tree
    * in java.io.tmpdir forever.
    */
  private[queries] val tmpRoots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.forEach { r =>
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(r))
      }))
  }
  private[queries] def tmpRootCleanedOnExit(prefix: String, dir: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/${prefix}_" +
      Integer.toHexString(dir.hashCode) + "_" + ProcessHandle.current().pid()
    tmpRoots.add(root)
    root
  }

  // DECIMAL(30,6)-exact sum / mean fragments for the DuckDB twins
  private[queries] def DSUM(x: String) = s"CAST(SUM(CAST(($x) AS DECIMAL(30,6))) AS DOUBLE)"
  private[queries] def DAVG(x: String) = s"${DSUM(x)} / COUNT($x)"
  /** q199 exact domain-compressed quantiles, shared by the Spark call
    * and the generated twin's column list. */
  private[queries] val DomainQuantilePcts = Seq(25, 50, 75, 90)
  /** normalized text + distinct word 3-gram shingles, DuckDB side */
  private[queries] val SHINGLES_CTE =
    """tok AS (SELECT doc_id,
      |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(range(len(toks)-2),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
      |  FROM tok WHERE len(toks) >= 3),
      |shz AS (SELECT doc_id, s, len(s) AS sz FROM sh)""".stripMargin

  /** Blocked exact-Jaccard pair CTEs, DuckDB side (VERDICT r11 item 2
    * — the gate's multi-kilosecond tail was the O(n²) all-pairs twin
    * scan, not the Spark side): candidate generation via the shingle
    * POSTING-LIST join, the same blocking idea the engine's
    * CBO-prefix join uses, formulated independently in SQL.
    * Correctness is containment, not heuristics: a pair with
    * Jaccard ≥ 0.5 > 0 shares at least one shingle, so the posting
    * join's candidate set is a superset of every qualifying pair; and
    * because `s` is list_distinct, the per-pair join-match COUNT *is*
    * |A∩B| exactly — identical pair SET and identical intersection
    * sizes to the all-pairs formulation (hash-verified unchanged when
    * this replaced it, r12), at Σ_g df(g)² cost instead of n²·|s|.
    * The twin stays an independent FORMULATION check — DuckDB plans
    * its own hash join over its own list semantics; only the
    * quadratic scan is gone. Yields `pairs(id_a, id_b, inter,
    * union_sz)` with id_a < id_b at the corpus-wide operator
    * threshold t = 0.5.
    */
  private[queries] val BLOCKED_PAIRS_CTE =
    s"""$SHINGLES_CTE,
       |jp_ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |jp_cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    COUNT(*) AS inter
       |  FROM jp_ex a JOIN jp_ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b, inter,
       |    sa.sz + sb.sz - inter AS union_sz
       |  FROM jp_cand
       |  JOIN shz sa ON sa.doc_id = jp_cand.id_a
       |  JOIN shz sb ON sb.doc_id = jp_cand.id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)""".stripMargin
}
