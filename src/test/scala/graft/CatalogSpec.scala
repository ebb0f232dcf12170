package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Catalog
import graft.operators.Catalog._

/** Catalog filter semantics (ref getAllStreamsRequest.ts:20-69):
  * smart-case Contains, case-insensitive StartsWith, ContainsAny over
  * array columns, Include/Exclude lists, naive full-text Search.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val streams = Seq(
    ("s1", "Market Trades", "live", Seq("prod", "options")),
    ("s2", "market quotes", "live", Seq("prod")),
    ("s3", "News Feed", "paused", Seq("beta")),
    ("s4", "internal metrics", "stopped", Seq("infra", "beta"))
  ).toDF("id", "name", "status", "labels")

  test("Contains is smart-case: lowercase pattern matches any case, capitalized is exact-case") {
    Catalog.search(streams, Seq(Contains("name", "market"))).count() shouldBe 2
    Catalog.search(streams, Seq(Contains("name", "Market"))).count() shouldBe 1
  }

  test("StartsWith is always case-insensitive (ref getAllStreamsRequest.ts:24-62)") {
    Catalog.search(streams, Seq(StartsWith("name", "MARKET"))).count() shouldBe 2
    Catalog.search(streams, Seq(StartsWith("name", "news"))).count() shouldBe 1
  }

  test("Equals / Include / Exclude on status") {
    Catalog.search(streams, Seq(Equals("status", "live"))).count() shouldBe 2
    Catalog.search(streams, Seq(Include("status", Seq("live", "paused")))).count() shouldBe 3
    Catalog.search(streams, Seq(Exclude("status", Seq("stopped")))).count() shouldBe 3
  }

  test("ContainsAny overlaps an array column against a value list") {
    Catalog.search(streams, Seq(ContainsAny("labels", Seq("options", "infra"))))
      .collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("s1", "s4")
  }

  test("Search spans multiple columns with smart-case") {
    Catalog.search(streams, Seq(Search(Seq("name", "status"), "feed"))).count() shouldBe 1
    Catalog.search(streams, Seq(Search(Seq("name", "status"), "live"))).count() shouldBe 2
  }

  test("UnderLocation matches the subtree, not sibling prefixes (ref streamLocation.ts:16-28)") {
    val located = Seq(
      ("a", "/cars/gt3"), ("b", "/cars/gt3/telemetry"),
      ("c", "/cars/gt3x"), ("d", "/cars")).toDF("id", "location")
    Catalog.search(located, Seq(UnderLocation("location", "/cars/gt3")))
      .collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("a", "b")
    Catalog.search(located, Seq(UnderLocation("location", "/cars/")))
      .count() shouldBe 4 // trailing slash normalized
  }

  test("filters compose conjunctively; empty filter list is identity") {
    Catalog.search(streams, Seq(
      Contains("name", "market"), Equals("status", "live"))).count() shouldBe 2
    Catalog.search(streams, Nil).count() shouldBe 4
  }

  test("statusFilter/levelFilter pin the contract vocabularies (ref streamStatus.ts:16, eventLevel.ts:16)") {
    Catalog.StreamStatuses should have size 8
    Catalog.EventLevels should have size 6
    val dim = Seq(("s1", "Open"), ("s2", "Closed"), ("s3", "SoftDeleted"))
      .toDF("id", "status")
    Catalog.search(dim, Seq(statusFilter(Seq("Open", "Closed")))).count() shouldBe 2
    Catalog.search(dim,
      Seq(statusFilter(Seq("SoftDeleted"), include = false))).count() shouldBe 2
    // out-of-vocabulary values are rejected at plan time, not silently zero-matched
    an[IllegalArgumentException] should be thrownBy statusFilter(Seq("open"))
    an[IllegalArgumentException] should be thrownBy levelFilter(Seq("Fatal"))
    val ev = Seq(("e1", "Error"), ("e2", "Trace"), ("e3", "Critical"))
      .toDF("id", "level")
    Catalog.search(ev,
      Seq(levelFilter(Seq("Error", "Critical")))).count() shouldBe 2
  }

  test("snippet catalog search: CI name contains, CS id ContainsAny, CI streamId equals (ref getAllDataSnippetsRequest.ts)") {
    val snippets = Seq(
      ("Morning Slice", Seq("p1", "p2"), Seq("e1"), "STREAM-A"),
      ("evening slice", Seq("p3"), Seq.empty[String], "stream-a"),
      ("other", Seq("P1"), Seq("e2"), "stream-b")
    ).toDF("name", "parameter_ids", "event_ids", "stream_id")
    // name contains is case-INsensitive
    Catalog.search(snippets,
      Catalog.snippetFilters(name = Some("SLICE"))).count() shouldBe 2
    // parameter ids are case-SENSITIVE ("p1" must not match "P1")
    Catalog.search(snippets,
      Catalog.snippetFilters(parameterIds = Seq("p1"))).count() shouldBe 1
    // streamId equals is case-insensitive
    Catalog.search(snippets,
      Catalog.snippetFilters(streamId = Some("Stream-A"))).count() shouldBe 2
    // conjunction
    Catalog.search(snippets, Catalog.snippetFilters(
      name = Some("slice"), streamId = Some("STREAM-A"))).count() shouldBe 2
  }

  test("locations search: CS stream equals, CS location prefix, enum status (ref getAllLocationsRequest.ts)") {
    val locs = Seq(
      ("s1", "/cars/gt3", "Open"),
      ("S1", "/Cars/gt3", "Open"),     // different case = different ids/paths
      ("s2", "/cars/gt4", "Closed"),
      ("s3", "/boats", "Open")
    ).toDF("stream_id", "location", "status")
    // stream ids are case-SENSITIVE
    Catalog.search(locs,
      Catalog.locationFilters(streamIds = Seq("s1"))).count() shouldBe 1
    // location prefix is case-SENSITIVE ("/cars" must not match "/Cars")
    Catalog.search(locs,
      Catalog.locationFilters(locationPrefix = Some("/cars"))).count() shouldBe 2
    // enum-checked status
    Catalog.search(locs, Catalog.locationFilters(
      locationPrefix = Some("/cars"), statuses = Seq("Open"))).count() shouldBe 1
    an[IllegalArgumentException] should be thrownBy
      Catalog.locationFilters(statuses = Seq("NotAStatus"))
  }

  test("parameter-type vocabulary is pinned; unknown values rejected at plan time (ref parameterType.ts:16)") {
    val params = Seq(("a", "Numeric"), ("b", "String"), ("c", "Binary"))
      .toDF("id", "type")
    Catalog.search(params,
      Seq(Catalog.parameterTypeFilter(Seq("Numeric", "Binary")))).count() shouldBe 2
    an[IllegalArgumentException] should be thrownBy
      Catalog.parameterTypeFilter(Seq("Float"))
  }

  test("ancestors: transitive parents-closure with shallowest depth, diamonds and cycles handled (ref stream.ts:49-52)") {
    // s4 -> {s2, s3} -> s1 (diamond); s5 <-> s6 (cycle); s1 root
    val dim = Seq(
      ("s1", Seq.empty[String]),
      ("s2", Seq("s1")),
      ("s3", Seq("s1")),
      ("s4", Seq("s2", "s3")),
      ("s5", Seq("s6")),
      ("s6", Seq("s5"))
    ).toDF("streamId", "parents")
    val got = Catalog.ancestors(dim, "streamId", "parents")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    got shouldBe Set(
      ("s2", "s1", 1), ("s3", "s1", 1),
      ("s4", "s2", 1), ("s4", "s3", 1), ("s4", "s1", 2),
      ("s5", "s6", 1), ("s6", "s5", 1),   // cycle: each is the other's parent
      ("s5", "s5", 2), ("s6", "s6", 2))   // ...and its own depth-2 ancestor; loop terminates
  }

  test("ancestors refuses a silently-truncated closure: throws when maxDepth is hit with a live frontier") {
    // chain s1 <- s2 <- s3 <- s4: the closure needs depth 3
    val dim = Seq(
      ("s1", Seq.empty[String]), ("s2", Seq("s1")),
      ("s3", Seq("s2")), ("s4", Seq("s3"))
    ).toDF("streamId", "parents")
    an[IllegalStateException] should be thrownBy
      Catalog.ancestors(dim, "streamId", "parents", maxDepth = 2)
    // ...and converges fine when the cap admits the true depth EXACTLY
    // (the doubling rounds overshoot to the next power of two — the
    // guard must fire on the CLOSURE's depth, not the coverage)
    Catalog.ancestors(dim, "streamId", "parents", maxDepth = 3)
      .count() shouldBe 6L
  }

  test("property: ancestors equals a driver-side min-depth BFS on random DAGs (3 seeds)") {
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      // random DAG-ish dimension: each node gets 0-2 parents among
      // LOWER ids (acyclic), plus one planted 2-cycle to exercise
      // saturation
      val dim = (1 to n).map { i =>
        val parents =
          if (i == 1) Seq.empty[String]
          else Seq.fill(rnd.nextInt(3))("s" + (1 + rnd.nextInt(i - 1))).distinct
        ("s" + i, parents)
      } :+ (("s41", Seq("s42"))) :+ (("s42", Seq("s41")))
      val edges = dim.flatMap { case (id, ps) => ps.map(id -> _) }
      // reference: per-level BFS with first-seen (= min) depth
      val expected = scala.collection.mutable.Map.empty[(String, String), Int]
      var frontier = edges.toSet
      frontier.foreach(p => expected.getOrElseUpdate(p, 1))
      var depth = 1
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      while (frontier.nonEmpty && depth < 50) {
        frontier = frontier.flatMap { case (a, mid) =>
          adj.getOrElse(mid, Nil).map(a -> _)
        }.filterNot(expected.contains)
        frontier.foreach(p => expected.getOrElseUpdate(p, depth + 1))
        depth += 1
      }
      // BOTH physical strategies must produce the identical min-depth
      // closure — the edge-count choice is pure cost
      for ((st, closure) <- Seq[(String, (DataFrame, Int) => DataFrame)](
             "doubling" -> Catalog.doublingClosure,
             "levelBfs" -> Catalog.levelBfsClosure)) {
        val got = Catalog.withLineageEdges(dim.toDF("streamId", "parents"),
            "streamId", "parents")(closure(_, 64))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
        withClue(s"seed=$seed strategy=$st: ") { got shouldBe expected.toMap }
      }
    }
  }

  test("descendants is the inverse closure of ancestors (ref streamWithChildren.ts children tree)") {
    val dim = Seq(
      ("s1", Seq.empty[String]), ("s2", Seq("s1")), ("s3", Seq("s2"))
    ).toDF("streamId", "parents")
    val got = Catalog.descendants(dim, "streamId", "parents")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    got shouldBe Set(("s1", "s2", 1), ("s2", "s3", 1), ("s1", "s3", 2))
  }

  test("stream lifecycle: soft-delete stamps, restore clears, hard-delete removes, patch edits one row") {
    val now = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    val dim = Seq(
      ("s1", "live-a", "Open", null.asInstanceOf[java.sql.Timestamp], "/cars/gt3"),
      ("s2", "live-b", "Closed", null.asInstanceOf[java.sql.Timestamp], "/cars")
    ).toDF("streamId", "name", "status", "softDeleteAt", "location")
    val deleted = Catalog.deleteStreams(dim, "streamId", Seq("s1"), now)
    val d1 = deleted.filter($"streamId" === "s1").collect()(0)
    d1.getAs[String]("status") shouldBe "SoftDeleted"
    d1.getAs[java.sql.Timestamp]("softDeleteAt") shouldBe now
    deleted.filter($"streamId" === "s2").collect()(0)
      .getAs[String]("status") shouldBe "Closed" // untouched
    // restore brings it back to Closed and clears the stamp
    val restored = Catalog.restoreStreams(deleted, "streamId", Seq("s1", "s2"))
    val r1 = restored.filter($"streamId" === "s1").collect()(0)
    r1.getAs[String]("status") shouldBe "Closed"
    r1.getAs[java.sql.Timestamp]("softDeleteAt") shouldBe null
    // hard delete removes the row
    Catalog.deleteStreams(dim, "streamId", Seq("s1"), now, hardDelete = true)
      .count() shouldBe 1
    // patch edits exactly the target row; bad status rejected at plan time
    val patched = Catalog.patchStream(dim, "streamId", "s2",
      name = Some("renamed"), status = Some("Idle"))
    patched.filter($"streamId" === "s2").collect()(0)
      .getAs[String]("name") shouldBe "renamed"
    patched.filter($"streamId" === "s1").collect()(0)
      .getAs[String]("name") shouldBe "live-a"
    an[IllegalArgumentException] should be thrownBy
      Catalog.patchStream(dim, "streamId", "s2", status = Some("nope"))
  }

  test("withChildrenCount counts DIRECT children via parentPath (ref parameterGroup.ts:37-40)") {
    val groups = Seq(
      ("Chassis", "g-chassis"), ("Chassis/Suspension", "g-susp"),
      ("Chassis/Suspension/Front", "g-front"), ("Chassis/Suspension/Rear", "g-rear"),
      ("Chassis/Brakes", "g-brakes"), ("Engine", "g-engine")
    ).toDF("path", "name")
    val got = Catalog.withChildrenCount(groups, "path")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("childrenCount")).toMap
    got("Chassis") shouldBe 2            // Suspension, Brakes — NOT the grandchildren
    got("Chassis/Suspension") shouldBe 2 // Front, Rear
    got("Chassis/Brakes") shouldBe 0
    got("Engine") shouldBe 0
    // subtree queries over the same tree reuse UnderLocation on `path`
    Catalog.search(groups, Seq(UnderLocation("path", "Chassis/Suspension")))
      .count() shouldBe 3
  }

  private lazy val groupCatalog = Seq(
    // (path, name, description, custom_properties, stream_ids, location)
    ("/Chassis", "Chassis", "chassis root", "rig=A",
      Seq("s1", "s2"), "/"),
    ("/Chassis/Suspension", "Suspension", "springs and dampers", "rig=A",
      Seq("s1"), "/Chassis"),
    ("/Chassis/Suspension/Front", "Front", "front axle", "RIG=A",
      Seq("s2"), "/Chassis/Suspension"),
    ("/Chassis/Brakes", "Brakes", "Brake Temps", "rig=b",
      Seq("s3"), "/Chassis"),
    ("/Engine", "Engine", "engine root", "rig=B",
      Seq("s1", "s3"), "/")
  ).toDF("path", "name", "description", "custom_properties",
    "stream_ids", "location")

  test("groupFilters: deep location search returns the whole subtree, shallow only direct children (ref getAllParameterGroupsRequest.ts:26-30)") {
    // deep (the contract's default): everything LOCATED at or under
    // /Chassis — Suspension, Front, Brakes (not the /-located root rows)
    Catalog.search(groupCatalog,
        Catalog.groupFilters(location = Some("/Chassis")))
      .collect().map(_.getString(0)).sorted shouldBe
      Seq("/Chassis/Brakes", "/Chassis/Suspension", "/Chassis/Suspension/Front")
    // shallow: direct children only — location EQUALS the given path
    Catalog.search(groupCatalog,
        Catalog.groupFilters(location = Some("/Chassis"),
          locationDeepSearch = false))
      .collect().map(_.getString(0)).sorted shouldBe
      Seq("/Chassis/Brakes", "/Chassis/Suspension")
    // a trailing slash on the request path is normalized away
    Catalog.search(groupCatalog,
        Catalog.groupFilters(location = Some("/Chassis/"),
          locationDeepSearch = false))
      .count() shouldBe 2
  }

  test("groupFilters: customProperties is a smart-case EQUALS, name/description smart-case CONTAINS (ref getAllParameterGroupsRequest.ts:31-43)") {
    // lowercase pattern → case-insensitive Equals: matches rig=A, RIG=A
    Catalog.search(groupCatalog,
        Catalog.groupFilters(customProperties = Some("rig=a")))
      .count() shouldBe 3
    // a capital anywhere → case-SENSITIVE Equals: only the exact rig=A
    Catalog.search(groupCatalog,
        Catalog.groupFilters(customProperties = Some("rig=A")))
      .count() shouldBe 2
    // and it is an EQUALS, not a contains: a substring matches nothing
    Catalog.search(groupCatalog,
        Catalog.groupFilters(customProperties = Some("rig")))
      .count() shouldBe 0
    // name/description stay smart-case CONTAINS
    Catalog.search(groupCatalog,
        Catalog.groupFilters(description = Some("brake")))
      .count() shouldBe 1 // CI: matches "Brake Temps"
    Catalog.search(groupCatalog,
        Catalog.groupFilters(description = Some("Brake")))
      .count() shouldBe 1 // CS: still the one capitalized row
    Catalog.search(groupCatalog,
        Catalog.groupFilters(name = Some("EN")))
      .count() shouldBe 0 // CS contains: "Engine" has no "EN"
  }

  test("groupFilters: streamIds overlap the group's owning streams; groupPaths is a CS Equals/IN; filters compose (ref getAllParameterGroupsRequest.ts:20-25,44-47)") {
    Catalog.search(groupCatalog,
        Catalog.groupFilters(streamIds = Seq("s1")))
      .count() shouldBe 3 // Chassis, Suspension, Engine
    Catalog.search(groupCatalog,
        Catalog.groupFilters(streamIds = Seq("s2", "s3")))
      .count() shouldBe 4
    Catalog.search(groupCatalog,
        Catalog.groupFilters(groupPaths = Seq("/Chassis", "/Engine")))
      .count() shouldBe 2
    Catalog.search(groupCatalog, // CS: case mismatch finds nothing
        Catalog.groupFilters(groupPaths = Seq("/chassis")))
      .count() shouldBe 0
    // conjunctive composition: s1-owned AND under /Chassis (deep)
    Catalog.search(groupCatalog,
        Catalog.groupFilters(streamIds = Seq("s1"),
          location = Some("/Chassis")))
      .collect().map(_.getString(0)) shouldBe Seq("/Chassis/Suspension")
  }
}
