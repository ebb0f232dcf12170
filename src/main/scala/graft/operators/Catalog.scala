package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Metadata-catalog search — the GetAllStreams/Parameters/Events request
  * family (ref dashboard/src/Models/getAllStreamsRequest.ts:20-69,
  * getAllParametersRequest.ts:19-56, getAllEventsRequest.ts:19-56):
  * Equals / StartsWith (case-insensitive) / Contains (smart-case) /
  * ContainsAny, include+exclude value lists, and naive full-text search
  * across columns. Compiles to one conjunctive predicate → pushdown.
  */
object Catalog {

  sealed trait Match
  final case class Equals(column: String, value: String)            extends Match
  /** case-insensitive Equals (ref getAllDataSnippetsRequest.ts:31-34 —
    * the snippet catalog's streamId match). */
  final case class EqualsCI(column: String, value: String)          extends Match
  final case class StartsWith(column: String, pattern: String)      extends Match
  /** case-SENSITIVE StartsWith (ref getAllLocationsRequest.ts:24-27 —
    * the location-path prefix match, unlike the CI name StartsWith). */
  final case class StartsWithCS(column: String, pattern: String)    extends Match
  /** smart-case: case-sensitive iff the pattern has a capital
    * (ref getAllStreamsRequest.ts:55-58). */
  final case class Contains(column: String, pattern: String)        extends Match
  /** array column overlaps any of the given values. */
  final case class ContainsAny(column: String, values: Seq[String]) extends Match
  final case class Include(column: String, values: Seq[String])     extends Match
  final case class Exclude(column: String, values: Seq[String])     extends Match
  /** naive full-text: smart-case contains across the given columns. */
  final case class Search(columns: Seq[String], pattern: String)    extends Match
  /** hierarchical location-tree subtree match over a '/'-separated
    * path column (ref streamLocation.ts:16-28): the node itself or any
    * descendant — "/a/b" matches "/a/b" and "/a/b/c" but NOT "/a/bc".
    */
  final case class UnderLocation(column: String, path: String)      extends Match

  def compile(m: Match): Column = m match {
    case Equals(c, v)       => col(c) === v
    case EqualsCI(c, v)     => lower(col(c)) === v.toLowerCase(java.util.Locale.ROOT)
    case StartsWith(c, p)   => startsWithCI(col(c), p)
    case StartsWithCS(c, p) => col(c).startsWith(p)
    case Contains(c, p)     => smartCaseContains(col(c), p)
    case ContainsAny(c, vs) => arrays_overlap(col(c), array(vs.map(lit): _*))
    case Include(c, vs)     => col(c).isin(vs: _*)
    case Exclude(c, vs)     => !col(c).isin(vs: _*)
    case Search(cols, p)    => cols.map(c => smartCaseContains(col(c), p)).reduce(_ || _)
    case UnderLocation(c, path) =>
      val norm = if (path.endsWith("/")) path.dropRight(1) else path
      col(c) === norm || col(c).startsWith(norm + "/")
  }

  def search(catalog: DataFrame, filters: Seq[Match]): DataFrame =
    filters.map(compile).reduceOption(_ && _)
      .map(catalog.filter).getOrElse(catalog)

  // ---------------------------------------------------------- enum filters

  /** The 8-state stream-status vocabulary (ref streamStatus.ts:16). */
  val StreamStatuses: Seq[String] = Seq("Open", "Closed", "Aborted",
    "Terminated", "Interrupted", "Deleting", "SoftDeleted", "Idle")

  /** The 6-level event-severity vocabulary (ref eventLevel.ts:16). */
  val EventLevels: Seq[String] = Seq("Trace", "Debug", "Information",
    "Warning", "Error", "Critical")

  private def enumMatch(column: String, values: Seq[String],
                        vocab: Seq[String], include: Boolean): Match = {
    val bad = values.filterNot(vocab.contains)
    require(bad.isEmpty, s"unknown $column value(s): ${bad.mkString(", ")} " +
      s"(vocabulary: ${vocab.mkString(", ")})")
    if (include) Include(column, values) else Exclude(column, values)
  }

  /** Enum-checked include/exclude over the `status` column — rejects
    * values outside the contract's 8-state vocabulary at plan time.
    */
  def statusFilter(values: Seq[String], include: Boolean = true): Match =
    enumMatch("status", values, StreamStatuses, include)

  /** Enum-checked include/exclude over the `level` column — rejects
    * values outside the contract's 6 severities at plan time.
    */
  def levelFilter(values: Seq[String], include: Boolean = true): Match =
    enumMatch("level", values, EventLevels, include)

  /** The 4-type parameter vocabulary (ref parameterType.ts:16). */
  val ParameterTypes: Seq[String] = Seq("Unknown", "Numeric", "String", "Binary")

  /** Enum-checked include/exclude over the parameter `type` column. */
  def parameterTypeFilter(values: Seq[String], include: Boolean = true): Match =
    enumMatch("type", values, ParameterTypes, include)

  /** GetAllLocationsRequest analog (ref getAllLocationsRequest.ts:
    * 16-33) over the stream-location table `(stream_id, location,
    * status, …)`: stream ids are a case-sensitive Equals/IN, location
    * a case-SENSITIVE StartsWith prefix, statuses the enum-checked
    * vocabulary filter.
    */
  def locationFilters(streamIds: Seq[String] = Nil,
                      locationPrefix: Option[String] = None,
                      statuses: Seq[String] = Nil): Seq[Match] =
    (if (streamIds.nonEmpty) Seq(Include("stream_id", streamIds)) else Nil) ++
      locationPrefix.map(p => StartsWithCS("location", p)).toSeq ++
      (if (statuses.nonEmpty) Seq(statusFilter(statuses)) else Nil)

  /** GetAllDataSnippetsRequest analog (ref
    * getAllDataSnippetsRequest.ts:16-40) over a snippet catalog table
    * `(name, parameter_ids: array<string>, event_ids: array<string>,
    * stream_id, …)`: name is a case-INsensitive Contains (the pattern
    * is lowercased, which makes [[smartCaseContains]] fold case),
    * parameter/event ids are case-sensitive ContainsAny, streamId a
    * case-insensitive Equals. Compose with ordering/paging via the
    * standard DataFrame orderBy/offset/limit, as Telemetry.plan does.
    */
  def snippetFilters(name: Option[String] = None,
                     parameterIds: Seq[String] = Nil,
                     eventIds: Seq[String] = Nil,
                     streamId: Option[String] = None): Seq[Match] =
    name.map(n => Contains("name", n.toLowerCase(java.util.Locale.ROOT))).toSeq ++
      (if (parameterIds.nonEmpty) Seq(ContainsAny("parameter_ids", parameterIds)) else Nil) ++
      (if (eventIds.nonEmpty) Seq(ContainsAny("event_ids", eventIds)) else Nil) ++
      streamId.map(sid => EqualsCI("stream_id", sid)).toSeq

  /** GetAllParameterGroupsRequest / GetAllEventGroupsRequest analog
    * (ref getAllParameterGroupsRequest.ts:16-52,
    * getAllEventGroupsRequest.ts:16-52 — the two request shapes are
    * field-identical) over a group catalog table `(path, name,
    * description, custom_properties, stream_ids: array<string>,
    * location, …)` (ref parameterGroup.ts:16-44):
    *
    *  - `streamIds` — groups whose streamIds list overlaps the given
    *    ids (the entity carries ALL owning streams' ids);
    *  - `location` + `locationDeepSearch` (default true, as the
    *    contract documents) — deep = the whole subtree
    *    ([[UnderLocation]] on the group's location), shallow = DIRECT
    *    children only (location Equals the given path exactly);
    *  - `name` / `description` — smart-case CONTAINS;
    *  - `customProperties` — smart-case EQUALS (case-sensitive iff the
    *    pattern has a capital — an Equals, unlike name/description;
    *    the contract wording differs deliberately);
    *  - `groupPaths` — case-SENSITIVE Equals/IN on the unique path.
    *
    * Ordering/paging compose via the standard orderBy/offset/limit,
    * as the other catalog requests do; [[withChildrenCount]] supplies
    * the response model's childrenCount.
    */
  def groupFilters(streamIds: Seq[String] = Nil,
                   location: Option[String] = None,
                   locationDeepSearch: Boolean = true,
                   name: Option[String] = None,
                   description: Option[String] = None,
                   customProperties: Option[String] = None,
                   groupPaths: Seq[String] = Nil): Seq[Match] =
    (if (streamIds.nonEmpty) Seq(ContainsAny("stream_ids", streamIds)) else Nil) ++
      location.map { loc =>
        val norm =
          if (loc.length > 1 && loc.endsWith("/")) loc.dropRight(1) else loc
        if (locationDeepSearch) UnderLocation("location", norm)
        else Equals("location", norm)
      }.toSeq ++
      name.map(Contains("name", _)).toSeq ++
      description.map(Contains("description", _)).toSeq ++
      customProperties.map { v =>
        if (v.exists(_.isUpper)) Equals("custom_properties", v)
        else EqualsCI("custom_properties", v)
      }.toSeq ++
      (if (groupPaths.nonEmpty) Seq(Include("path", groupPaths)) else Nil)

  // -------------------------------------------------------------- lineage

  /** Crossover of [[ancestors]]' two closure strategies: below this
    * many edges the barrier count is the cost driver (→
    * [[doublingClosure]]); above it the O(closure × log depth) join
    * volume is (→ [[levelBfsClosure]]). Set between the two measured
    * points (50k edges: doubling 1.8× faster; 1M edges: BFS 2.5× faster),
    * nearer the small end because doubling's volume penalty grows with
    * the closure while the BFS's barrier penalty stays flat.
    */
  private[graft] val DoublingEdgeBudget = 300000L

  /** Transitive ancestor closure over the stream dimension's `parents`
    * array (ref stream.ts:49-52 — "The stream Ids this session is
    * derived from"): returns `(id, ancestor_id, depth)` with depth 1 =
    * direct parent, each pair at its SHALLOWEST depth (min-plus
    * shortest path — diamonds deduplicate to the shallower route,
    * cycles saturate and terminate). Driver-coordinated loop of keyed
    * joins — the stream catalog is a dimension table (catalog-scale,
    * not the 100 TB fact path) — with the loop SHAPE chosen from the
    * edge count the checkpointed edge table already knows. Both shapes
    * compute the identical min-depth closure (CatalogSpec pins equality
    * on random DAGs), so the choice is pure cost:
    * [[doublingClosure]] up to [[DoublingEdgeBudget]] edges,
    * [[levelBfsClosure]] beyond. If the closure would exceed
    * `maxDepth`, the call throws rather than returning anything
    * truncated — truncation is indistinguishable from completion to
    * the caller.
    *
    * Each round's result is cut with an EAGER `localCheckpoint`:
    * without truncation the logical plan doubles per round and
    * Catalyst analysis goes exponential (observed as a driver-bound
    * hang at depth ≈ 11 — the standard iterative-algorithm failure
    * mode, same reason GraphX checkpoints).
    */
  def ancestors(streams: DataFrame, idCol: String, parentsCol: String,
                maxDepth: Int = 20): DataFrame =
    withLineageEdges(streams, idCol, parentsCol) { edges =>
      // count() on the just-checkpointed edges is a block-manager
      // statistics read, not a recompute
      if (edges.count() > DoublingEdgeBudget) levelBfsClosure(edges, maxDepth)
      else doublingClosure(edges, maxDepth)
    }

  /** Runs `closure` over the distinct, eagerly checkpointed
    * `(id, ancestor_id)` edges of `parentsCol`. The closure result is
    * checkpoint-backed on both paths (doubling returns an eager
    * checkpoint; level-BFS a union of eager frontier checkpoints), so
    * the edges checkpoint is releasable the moment the closure returns —
    * and on the maxDepth-refusal throw it must not linger until GC (the
    * exact leak Checkpoints.free exists to prevent; connectedComponents
    * frees its edges the same way).
    */
  private[graft] def withLineageEdges(streams: DataFrame, idCol: String,
      parentsCol: String)(closure: DataFrame => DataFrame): DataFrame = {
    val edges = streams
      .select(col(idCol).cast("string").as("id"),
        explode(col(parentsCol)).as("__anc"))
      .select(col("id"), col("__anc").cast("string").as("ancestor_id"))
      .distinct().localCheckpoint(true)
    try closure(edges) finally Checkpoints.free(edges)
  }

  /** Min-plus pointer doubling: ceil(log2 depth) rounds of
    * reach⋈reach. Fewest driver barriers; total shuffle volume
    * O(closure × log depth). Measured sf0.1 lineage (~50k edges, depth
    * 16): 2.7 s vs the BFS's 4.9 s — barriers dominate at catalog
    * scale. After round r, `reach` holds EVERY pair within distance 2^r at
    * its exact shallowest depth (the standard min-plus matrix-power
    * argument: a shortest path of length ≤ 2^r splits into two halves
    * of length ≤ 2^(r-1), both already exact).
    */
  private[graft] def doublingClosure(edges: DataFrame, maxDepth: Int): DataFrame = {
    var reach = edges.withColumn("depth", lit(1)).localCheckpoint(true)
    var stats = reach.agg(count(lit(1)), coalesce(sum("depth"), lit(0L))).head()
    var round = 1
    var done = false
    while (!done) {
      val comp = reach.as("a")
        .join(reach.as("b"), col("a.ancestor_id") === col("b.id"))
        .select(col("a.id"), col("b.ancestor_id").as("ancestor_id"),
          (col("a.depth") + col("b.depth")).as("depth"))
      val next = reach.union(comp)
        .groupBy("id", "ancestor_id").agg(min("depth").as("depth"))
        .localCheckpoint(true)
      // fixed point iff no pair was added AND no min was lowered —
      // pairs only ever accrete and depths only ever decrease, so
      // (count, Σdepth) is a complete convergence witness
      val nextStats = next.agg(count(lit(1)), coalesce(sum("depth"), lit(0L))).head()
      // release the superseded closure checkpoint NOW (each round
      // checkpoints the FULL closure; waiting for the ContextCleaner
      // would stack several closure-sized copies in the block manager).
      // Dataset.unpersist would NOT do it — checkpoint blocks live on
      // the internal RDD, not in the CacheManager (ADVICE r6).
      Checkpoints.free(reach)
      val changed = nextStats.getLong(0) != stats.getLong(0) ||
        nextStats.getLong(1) != stats.getLong(1)
      if (changed && (1L << (round - 1)) >= maxDepth) {
        // Still growing while the PREVIOUS round already covered every
        // pair within maxDepth ⇒ the new pairs are deeper than
        // maxDepth. Refuse to return a silently-truncated closure
        // (same contract as connectedComponents' convergence guard);
        // the in-flight closure checkpoint must not outlive the throw.
        Checkpoints.free(next)
        throw new IllegalStateException(
          s"ancestor closure still expanding past maxDepth=$maxDepth; " +
            "raise maxDepth (the loop stops on its own at the fixed point)")
      }
      reach = next; stats = nextStats; round += 1
      done = !changed
    }
    // pairs deeper than maxDepth can also land BEFORE the round guard
    // can see them (coverage doubles, maxDepth need not be a power of
    // two) — the converged closure gets the same refusal
    if (!reach.filter(col("depth") > maxDepth).isEmpty) {
      Checkpoints.free(reach)
      throw new IllegalStateException(
        s"ancestor closure contains pairs deeper than maxDepth=$maxDepth; " +
          "raise maxDepth")
    }
    reach
  }

  /** Per-level frontier BFS: depth rounds, but each round shuffles
    * only the frontier, total volume O(closure). Measured 1M-node binary
    * tree (depth 19, ~18M-pair closure): 70.7 s vs the doubling's
    * 133.5 s on the SAME host and session — volume dominates once the
    * closure is large. Only each round's FRONTIER is checkpointed; the
    * closure is a lazy UNION of those flat checkpointed leaves, re-compacted every
    * [[closureCompactEvery]] rounds to bound the anti-join's union
    * fan-in (K leaves) at O(E·depth/K) checkpoint volume — the r4/r5
    * balance point on both axes.
    */
  private[graft] def levelBfsClosure(edges: DataFrame, maxDepth: Int): DataFrame = {
    var frontier = edges.withColumn("depth", lit(1)).localCheckpoint(true)
    var closure = frontier
    var depth = 1
    var done = false
    while (!done) {
      val next = frontier.select(col("id"), col("ancestor_id").as("__mid"))
        .join(edges.select(col("id").as("__mid"), col("ancestor_id")), "__mid")
        .select(col("id"), col("ancestor_id")).distinct()
        .join(closure.select("id", "ancestor_id"), Seq("id", "ancestor_id"), "left_anti")
        .withColumn("depth", lit(depth + 1))
        .localCheckpoint(true)
      if (next.isEmpty) { Checkpoints.free(next); done = true }
      else if (depth >= maxDepth) {
        // same refusal contract as the doubling path; free the
        // frontier checkpoints in flight (the union's older leaves are
        // freed by the periodic compaction / ContextCleaner)
        Checkpoints.free(next)
        Checkpoints.free(frontier)
        throw new IllegalStateException(
          s"ancestor closure still expanding after maxDepth=$maxDepth rounds; " +
            "raise maxDepth (the loop stops on its own once the frontier empties)")
      }
      else {
        closure = closure.union(next)
        if (depth % closureCompactEvery == 0)
          closure = closure.localCheckpoint(true)
        frontier = next; depth += 1
      }
    }
    closure
  }

  /** Union fan-in bound for [[levelBfsClosure]]'s lazy closure. */
  private val closureCompactEvery = 4

  /** Downward closure — every (id, descendant_id, depth) — derived from
    * [[ancestors]] by swapping the pair (descendant-of is the inverse
    * relation of ancestor-of; ref streamWithChildren.ts:16-18's
    * children tree is the depth-1 slice of this).
    */
  def descendants(streams: DataFrame, idCol: String, parentsCol: String,
                  maxDepth: Int = 20): DataFrame =
    ancestors(streams, idCol, parentsCol, maxDepth)
      .select(col("ancestor_id").as("id"), col("id").as("descendant_id"),
        col("depth"))

  // ------------------------------------------------- stream lifecycle

  /** Soft-delete request (ref deleteStreamRequest.ts:16-24): target
    * streams get status SoftDeleted and a softDeleteAt stamp;
    * hardDelete=true removes the rows instead. `now` is caller-supplied
    * so the transform stays deterministic/replayable.
    */
  def deleteStreams(streams: DataFrame, idCol: String, ids: Seq[String],
                    now: java.sql.Timestamp,
                    hardDelete: Boolean = false): DataFrame = {
    val hit = col(idCol).cast("string").isin(ids: _*)
    if (hardDelete) streams.filter(!hit)
    else streams
      .withColumn("status", when(hit, lit("SoftDeleted")).otherwise(col("status")))
      .withColumn("softDeleteAt", when(hit, lit(now)).otherwise(col("softDeleteAt")))
  }

  /** Restore request (ref restoreStreamRequest.ts:16-19): soft-deleted
    * targets return to Closed with the stamp cleared.
    */
  def restoreStreams(streams: DataFrame, idCol: String, ids: Seq[String]): DataFrame = {
    val hit = col(idCol).cast("string").isin(ids: _*) &&
      col("status") === "SoftDeleted"
    // ONE projection: a second withColumn would re-evaluate `hit`
    // against the already-rewritten status and never clear the stamp
    streams.select(streams.columns.map {
      case "status" => when(hit, lit("Closed")).otherwise(col("status")).as("status")
      case "softDeleteAt" =>
        when(hit, lit(null).cast("timestamp")).otherwise(col("softDeleteAt")).as("softDeleteAt")
      case c => col(c)
    }: _*)
  }

  /** Patch request (ref patchStreamRequest.ts:16-31): set any of name /
    * status / location / metadata on one stream. Enum-checked like
    * [[statusFilter]].
    */
  def patchStream(streams: DataFrame, idCol: String, id: String,
                  name: Option[String] = None,
                  status: Option[String] = None,
                  location: Option[String] = None,
                  metadata: Option[Map[String, String]] = None): DataFrame = {
    status.foreach(s => require(StreamStatuses.contains(s),
      s"unknown status $s (vocabulary: ${StreamStatuses.mkString(", ")})"))
    val hit = col(idCol).cast("string") === id
    def set(df: DataFrame, c: String, v: Column): DataFrame =
      df.withColumn(c, when(hit, v).otherwise(col(c)))
    var out = streams
    name.foreach(v => out = set(out, "name", lit(v)))
    status.foreach(v => out = set(out, "status", lit(v)))
    location.foreach(v => out = set(out, "location", lit(v)))
    metadata.foreach(m => out = set(out, "metadata",
      map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)))
    out
  }

  // ---------------------------------------------------------- group trees

  /** Parent path within a '/'-separated hierarchy ("a/b/c" → "a/b",
    * top-level → null) — shared by the parameter-group and event-group
    * trees (ref parameterGroup.ts:17-20, eventGroup.ts:17-20: `path` is
    * the absolute hierarchy path and unique identifier).
    */
  def parentPath(path: Column): Column = {
    val norm = when(length(path) > 1, regexp_replace(path, "/+$", ""))
      .otherwise(path) // strip trailing '/', but leave a bare root "/"
    val parent = regexp_replace(norm, "/[^/]*$", "")
    when(parent === norm || parent === "", lit(null)).otherwise(parent)
  }

  /** Attach `childrenCount` — the number of DIRECT child groups — to a
    * group dimension (ref parameterGroup.ts:37-40 / eventGroup.ts:37-40)
    * via one self-aggregation join on the parent path. Subtree queries
    * over the same tables reuse [[UnderLocation]] on the `path` column
    * (the two group hierarchies and the stream location tree share the
    * '/'-path shape — ref streamLocation.ts:16-28).
    */
  def withChildrenCount(groups: DataFrame, pathCol: String): DataFrame = {
    val counts = groups
      .select(parentPath(col(pathCol)).as(pathCol))
      .filter(col(pathCol).isNotNull)
      .groupBy(pathCol).agg(count(lit(1)).as("childrenCount"))
    groups.join(counts, Seq(pathCol), "left")
      .withColumn("childrenCount", coalesce(col("childrenCount"), lit(0L)))
  }
}
