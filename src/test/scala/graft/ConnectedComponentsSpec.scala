package graft

import graft.pipeline.ConnectedComponents

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** The edge endpoints as a universe: every node that appears in an edge. */
  private def endpoints(df: DataFrame): DataFrame =
    df.select($"src".as("conv_id")).union(df.select($"dst".as("conv_id"))).distinct()

  private def collectMap(df: DataFrame): Map[String, String] =
    df.as[(String, String)].collect().toMap

  private def cc(edges: Seq[(String, String)]): Map[String, String] = {
    val df = edges.toDF("src", "dst")
    collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df)))
  }

  /** The three output shapes, each with the plan it must take: rounds run
    * (or not) and a join attach (or the blob lookup). `maxBroadcastNodes`
    * = -1 sends even a root-only assignment to the join attach.
    */
  private case class Shape(name: String, localMaxEdges: Long, maxBroadcastNodes: Int,
                           rounds: Boolean, join: Boolean)
  private val shapes = Seq(
    Shape("blob attach", 1000000L, 4000000, rounds = false, join = false),
    Shape("join attach", 1000000L, -1, rounds = false, join = true),
    Shape("rounds", 0L, 4000000, rounds = true, join = true))

  /** Runs one shape and checks it took its own path; returns all rows. */
  private def runShape(shape: Shape, edges: DataFrame,
                       universe: DataFrame): Seq[(String, String)] = {
    var rounds = 0
    val out = ConnectedComponents.runWithUniverse(edges, universe,
      onRound = (_, _, _) => rounds += 1, localMaxEdges = shape.localMaxEdges,
      maxBroadcastNodes = shape.maxBroadcastNodes)
    val hasJoin = out.queryExecution.analyzed.collect { case j: Join => j }.nonEmpty
    assert(hasJoin == shape.join, s"${shape.name}: join attach = $hasJoin")
    assert((rounds > 0) == shape.rounds, s"${shape.name}: $rounds rounds")
    out.as[(String, String)].collect().toSeq
  }

  test("chain collapses to one component rooted at min id") {
    val m = cc(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))
    assert(m.values.toSet == Set("a"))
    assert(m.keySet == Set("a", "b", "c", "d", "e"))
  }

  test("two disjoint components") {
    val m = cc(Seq("a" -> "b", "x" -> "y", "y" -> "z"))
    assert(m("a") == "a" && m("b") == "a")
    assert(m("x") == "x" && m("y") == "x" && m("z") == "x")
  }

  test("duplicate edges / both orientations / self loops tolerated") {
    val m = cc(Seq("b" -> "a", "a" -> "b", "b" -> "b", "b" -> "c"))
    assert(m.values.toSet == Set("a"))
  }

  test("matches a union-find oracle on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val n = 200
    // the two lonely ids and any n id no edge touches are singletons
    val ids = (0 until n).map(i => f"n$i%04d") ++ Seq("lonely1", "lonely2")
    val edges = (0 until 300).map { _ =>
      (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
    }.filter { case (a, b) => a != b }

    // scalar union-find oracle
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // canonical root = min member of each component
    val byRoot = ids.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }

    val edgeDf = edges.toDF("src", "dst")
    val universe = ids.toDF("conv_id")
    assert(ids.size > edges.flatMap(e => Seq(e._1, e._2)).distinct.size)
    for (shape <- shapes) {
      val got = runShape(shape, edgeDf, universe)
      assert(got.size == ids.size, s"${shape.name}: one row per universe id")
      val m = got.toMap
      ids.foreach { id => assert(m(id) == byRoot(id), s"${shape.name}: node $id") }
    }
  }

  test("degenerate inputs on every shape: empty edges or universe, outside endpoints, duplicate ids") {
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    val edges = Seq("b" -> "a", "c" -> "b", "y" -> "x").toDF("src", "dst")
    val universe = Seq("a", "b", "c", "z").toDF("conv_id")
    for (shape <- shapes) {
      // no edges: every id is its own cluster
      assert(runShape(shape, noEdges, universe).sorted ==
        Seq("a" -> "a", "b" -> "b", "c" -> "c", "z" -> "z"), shape.name)
      // empty universe: empty output
      assert(runShape(shape, edges, Seq.empty[String].toDF("conv_id")).isEmpty, shape.name)
      // x and y are edge endpoints outside the universe: no row for them
      assert(runShape(shape, edges, universe).sorted ==
        Seq("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"), shape.name)
      // duplicate universe rows: one output row each
      val dup = Seq("a", "b", "b", "z", "z", "z").toDF("conv_id")
      assert(runShape(shape, edges, dup).sorted ==
        Seq("a" -> "a", "b" -> "a", "b" -> "a", "z" -> "z", "z" -> "z", "z" -> "z"), shape.name)
    }
  }

  test("hybrid driver union-find finisher ≡ distributed rounds (random graphs)") {
    for (seed <- Seq(3, 19, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 150
      val ids = (0 until n).map(i => f"n$i%04d")
      val edges = (0 until 180).map(_ => (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      val df = edges.toDF("src", "dst")
      val distributed = collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df)))
      val hybrid = collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df),
        localMaxEdges = 1000000L))
      assert(hybrid == distributed, s"seed=$seed")
    }
  }

  test("fallback boundary: exactly localMaxEdges stays local, +1 engages distributed rounds, identical clusters") {
    val rnd = new scala.util.Random(11)
    val n = 60
    val ids = (0 until n).map(i => f"b$i%03d")
    val raw = (0 until 90).map(_ => (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
    // the bound applies to the CANONICAL edge set (dedup, u<v, no loops)
    val canonical = raw.filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val df = raw.toDF("src", "dst")

    def runCounting(bound: Long): (Map[String, String], Int) = {
      var rounds = 0
      val m = collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df),
        localMaxEdges = bound, onRound = (_, _, _) => rounds += 1))
      (m, rounds)
    }
    val (local, localRounds) = runCounting(canonical.size.toLong)
    val (dist, distRounds) = runCounting(canonical.size.toLong - 1)
    assert(localRounds == 0, "driver finisher must not iterate")
    assert(distRounds > 0, "bound-1 must engage the distributed rounds")
    assert(local == dist, "both paths must produce identical clusters")
  }

  test("runWithUniverse: broadcast-map attach covers singletons, equals join attach") {
    val edges = Seq("c" -> "b", "b" -> "a", "x" -> "y").toDF("src", "dst")
    val universe = Seq("a", "b", "c", "x", "y", "lonely1", "lonely2").toDF("conv_id")
    val attached = ConnectedComponents
      .runWithUniverse(edges, universe, localMaxEdges = 1000L)
      .as[(String, String)].collect().toMap
    assert(attached == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "lonely1" -> "lonely1", "lonely2" -> "lonely2"))
    // distributed-path attach (bound 0) agrees
    val viaJoin = ConnectedComponents.runWithUniverse(edges, universe)
      .as[(String, String)].collect().toMap
    assert(viaJoin == attached)
  }

  test("runWithUniverse: over-bound resolved map falls back to join attach, identical output") {
    // finisher still runs (edges under localMaxEdges) but the resolved
    // component map exceeds maxBroadcastNodes → the shuffled join-attach
    // fallback must produce the same assignment as the broadcast lookup
    val edges = Seq("c" -> "b", "b" -> "a", "x" -> "y", "q" -> "p").toDF("src", "dst")
    val universe = Seq("a", "b", "c", "x", "y", "p", "q", "lonely").toDF("conv_id")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "p" -> "p", "q" -> "p", "lonely" -> "lonely")
    // resolved map has 4 non-root entries; bound of 2 forces the fallback
    val viaJoin = ConnectedComponents
      .runWithUniverse(edges, universe, localMaxEdges = 1000L,
        maxBroadcastNodes = 2)
      .as[(String, String)].collect().toMap
    assert(viaJoin == expect)
    val viaBroadcast = ConnectedComponents
      .runWithUniverse(edges, universe, localMaxEdges = 1000L)
      .as[(String, String)].collect().toMap
    assert(viaBroadcast == expect)
  }

  test("knownEdgeCount steers the finisher guard without a count pass") {
    val edges = Seq("c" -> "b", "b" -> "a", "x" -> "y").toDF("src", "dst")
    val universe = Seq("a", "b", "c", "x", "y", "lonely1").toDF("conv_id")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "lonely1" -> "lonely1")
    // caller-supplied count under the bound → driver finisher, same result
    val viaKnown = ConnectedComponents
      .runWithUniverse(edges, universe, localMaxEdges = 1000L,
        knownEdgeCount = Some(3L))
      .as[(String, String)].collect().toMap
    assert(viaKnown == expect)
    // an over-bound known count must route to the distributed rounds —
    // and still agree (the guard is a safety valve, not a semantics switch)
    val viaDist = ConnectedComponents
      .runWithUniverse(edges, universe, localMaxEdges = 1000L,
        knownEdgeCount = Some(5000L))
      .as[(String, String)].collect().toMap
    assert(viaDist == expect)
  }

  test("edgesDistinct contract: distinct input produces identical clusters on both paths") {
    val rnd = new scala.util.Random(23)
    val n = 80
    val ids = (0 until n).map(i => f"d$i%03d")
    val distinctEdges = (0 until 100)
      .map(_ => (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val df = distinctEdges.toDF("src", "dst")
    val base = collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df)))
    for (bound <- Seq(0L, 1000000L)) { // distributed and finisher paths
      val got = collectMap(ConnectedComponents.runWithUniverse(df, endpoints(df),
        localMaxEdges = bound, edgesDistinct = true))
      assert(got == base, s"bound=$bound")
    }
  }

  test("non-string ids are refused at plan build, naming column and type") {
    val strEdges = Seq("b" -> "a").toDF("src", "dst")
    val strUniverse = Seq("a", "b").toDF("conv_id")
    val cases = Seq(
      ("src", Seq((3L, 1L)).toDF("src", "dst"), strUniverse),
      ("dst", Seq(("c", 1L)).toDF("src", "dst"), strUniverse),
      ("conv_id", strEdges, Seq(1L, 2L).toDF("conv_id")))
    for ((column, edges, universe) <- cases; bound <- Seq(0L, 1000000L)) {
      val e = intercept[IllegalArgumentException](
        ConnectedComponents.runWithUniverse(edges, universe, localMaxEdges = bound))
      assert(e.getMessage.contains(s"string $column, got BIGINT"), e.getMessage)
    }
  }

  test("finisher blob cache: a reused broadcast id never serves another blob's map") {
    // broadcast ids restart at 0 in every SparkContext, so a second
    // context in the same JVM ships a different blob under an id the
    // per-JVM decode cache has already seen
    final class FixedIdBroadcast(id: Long, blob: Array[Byte])
        extends org.apache.spark.broadcast.Broadcast[Array[Byte]](id) {
      override protected def getValue(): Array[Byte] = blob
      override protected def doUnpersist(blocking: Boolean): Unit = ()
      override protected def doDestroy(blocking: Boolean): Unit = ()
    }
    def blob(edges: (String, String)*): Array[Byte] = {
      val uf = new ConnectedComponents.UnionFind
      edges.foreach { case (u, v) => uf.add(u, v) }
      uf.encodeNonRoots()
    }
    val first = new ConnectedComponents.LookupFn(new FixedIdBroadcast(0L, blob("a" -> "b")))
    val second = new ConnectedComponents.LookupFn(new FixedIdBroadcast(0L, blob("x" -> "y")))
    assert(first("b") == "a" && first("y") == "y")
    assert(second("y") == "x" && second("b") == "b")
  }
}
