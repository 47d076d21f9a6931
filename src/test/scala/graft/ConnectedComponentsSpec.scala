package graft

import graft.pipeline.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(String, String)]): Map[String, String] = {
    val df = edges.toDF("src", "dst")
    ConnectedComponents.run(df).as[(String, String)].collect().toMap
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
    val ids = (0 until n).map(i => f"n$i%04d")
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

    val got = cc(edges)
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    touched.foreach { id => assert(got(id) == byRoot(id), s"node $id") }
  }

  test("hybrid driver union-find finisher ≡ distributed rounds (random graphs)") {
    for (seed <- Seq(3, 19, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 150
      val ids = (0 until n).map(i => f"n$i%04d")
      val edges = (0 until 180).map(_ => (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      val df = edges.toDF("src", "dst")
      val distributed = ConnectedComponents.run(df)
        .as[(String, String)].collect().toMap
      val hybrid = ConnectedComponents.run(df, localMaxEdges = 1000000L)
        .as[(String, String)].collect().toMap
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
      val m = ConnectedComponents.run(df, localMaxEdges = bound,
        onRound = (_, _, _) => rounds += 1).as[(String, String)].collect().toMap
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
    val base = ConnectedComponents.run(df).as[(String, String)].collect().toMap
    for (bound <- Seq(0L, 1000000L)) { // distributed and finisher paths
      val got = ConnectedComponents.run(df, localMaxEdges = bound,
        edgesDistinct = true).as[(String, String)].collect().toMap
      assert(got == base, s"bound=$bound")
    }
  }

  test("numeric ids under localMaxEdges fall back to distributed rounds (no driver cast crash)") {
    val df = Seq((3L, 1L), (1L, 2L), (10L, 20L)).toDF("src", "dst")
    // round 2 threw ClassCastException in the driver finisher (getString on
    // LongType); now non-string ids skip the finisher and still converge
    val m = ConnectedComponents.run(df, localMaxEdges = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 20L -> 10L))
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
