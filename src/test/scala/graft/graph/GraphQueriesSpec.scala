package graft.graph

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Oracle checks for the graph query surface on the sf0.001 test tables. */
class GraphQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("KCore: deep peel on a path graph (cascade from the endpoints)") {
    import spark.implicits._
    // path 0-1-...-19 with k=2: endpoints peel first, the cascade eats
    // inward one vertex per round from each side — 10 rounds to empty.
    // The engine must survive a round count proportional to graph
    // diameter, not just the shallow heavy-tailed case q34 exercises.
    val fwd = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.unionAll(fwd.select($"dst".as("src"), $"src".as("dst")))
    assert(KCore.run(spark, edges, 2).count() == 0)
    // a 4-cycle welded to the path center survives as the entire 2-core
    val cyc = Seq((100L, 101L), (101L, 102L), (102L, 103L), (103L, 100L),
      (100L, 10L)).toDF("src", "dst")
    val edges2 = fwd.unionAll(cyc)
      .unionAll(fwd.unionAll(cyc).select($"dst".as("src"), $"src".as("dst")))
    val core = KCore.run(spark, edges2, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet == Set(100L, 101L, 102L, 103L))
    assert(core.values.forall(_ == 2L)) // in-CORE degree: bridge edge gone
  }

  test("KCore equals in-memory peeling on the q34 graph (order-invariance)") {
    import spark.implicits._
    val fwd = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("l_orderkey AS src", "l_partkey + 10000000 AS dst")
      .distinct().as[(Long, Long)].collect()
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.Set[Long]]
    fwd.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    // in-memory oracle peels ONE vertex at a time (a different deletion
    // order than the engine's bulk rounds) — the fixpoint must agree
    val alive = scala.collection.mutable.Set.empty[Long] ++ adj.keys
    var next = alive.find(u => adj(u).count(alive) < 4)
    while (next.isDefined) {
      alive -= next.get
      next = alive.find(u => adj(u).count(alive) < 4)
    }
    val want = alive.map(u => u -> adj(u).count(alive).toLong).toMap
    val got = GraphQueries.q34_kcore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("q16_maxflow equals in-memory Edmonds-Karp on the same derived graph") {
    import spark.implicits._
    val edges = GraphQueries.q16Edges(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val want = EdmondsKarp.maxFlow(edges, 10L to 17L, 1000010L to 1000017L)
    val got = GraphQueries.q16_maxflow(spark, sf).head().getLong(0)
    assert(got == want, s"engine=$got oracle=$want")
  }

  test("q24_cc equals union-find on the same co-occurrence edges") {
    import spark.implicits._
    val ev = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) div 10000000 AS b")
    val edges = ev.as("a").join(ev.as("b"), "b")
      .selectExpr("a.user_id AS src", "b.user_id AS dst")
      .filter("src <> dst").distinct()
      .as[(Long, Long)].collect()
    // in-memory union-find oracle
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val got = GraphQueries.q24_cc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("co-occurrence scale shape: star edges linear, capped pairs bounded on a flash-crowd bucket") {
    import spark.implicits._
    // one flash-crowd bucket with 600 distinct users + two normal buckets
    val users = ((1 to 600).map(u => (u.toLong * 7, 0L)) ++
      Seq((1L, 1L), (2L, 1L), (3L, 2L))).toDF("user_id", "b")
    // star: one spoke per non-hub user per bucket, symmetrized — O(k), not k²
    assert(GraphQueries.ccStarEdges(users).count() == 2L * (599 + 1))
    // capped pairing: the flash bucket emits C(cap,2), not C(600,2)
    val capped = GraphQueries.cooccurPairs(users, cap = 64)
    assert(capped.count() == 64L * 63 / 2 + 1)
    // with cap >= every bucket size the capped build IS the exact clique
    val exact = GraphQueries.cooccurPairs(users, cap = 100000)
      .orderBy("u", "v").collect().toSeq
    val brute = users.as("a").join(users.as("b"), "b")
      .select($"a.user_id".as("u"), $"b.user_id".as("v"))
      .filter($"u" < $"v").distinct()
      .orderBy("u", "v").collect().toSeq
    assert(exact == brute)
  }

  test("star edge build preserves the clique build's components") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val users = Seq.fill(400)((rnd.nextInt(120).toLong + 1, rnd.nextInt(40).toLong))
      .distinct.toDF("user_id", "b")
    val clique = users.as("a").join(users.as("b"), "b")
      .selectExpr("a.user_id AS src", "b.user_id AS dst")
      .filter("src <> dst").distinct()
    def comps(e: org.apache.spark.sql.DataFrame) =
      ConnectedComponents.run(spark, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(GraphQueries.ccStarEdges(users)) == comps(clique))
  }

  test("CC convergence is exact under ids whose Long sum overflows") {
    import spark.implicits._
    // 7-node path over ids ~ Long.MaxValue/2: a sum(long) convergence probe
    // wraps (7 × 4.6e18 ≈ 3.2e19 > Long.MaxValue); decimal(38,0) cannot
    val base = Long.MaxValue / 2
    val path = (0 until 6).map(i => (base + i, base + i + 1))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val cc = ConnectedComponents.run(spark, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 7 && cc.values.forall(_ == base))
  }

  test("q13_bfs returns supplier 1 at distance 0 and rows > 0") {
    val rows = GraphQueries.q13_bfs(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d(1L) == 0)
    assert(d.values.forall(_ <= 6))
  }

  test("q33_pagerank matches an in-memory fixed-point replay") {
    // the exact integer recurrence PageRank declares, replayed in memory
    // (Scala Long '/' truncates like Spark 'div' for the all-positive ranks)
    def replay(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val pr0 = PageRank.Scale / deg.size
      val tp = 15L * pr0 / 100L
      var pr = deg.keys.map(_ -> pr0).toMap
      for (_ <- 1 to iters) pr = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / deg(u) }.sum)
        .map { case (v, in) => v -> (tp + 85L * in / 100L) }.toMap
      pr
    }
    val fwd = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("CAST(l_suppkey AS BIGINT) AS s",
        "CAST(l_partkey + 1000000 AS BIGINT) AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val expected = replay((fwd ++ fwd.map(_.swap)).toSeq, iters = 3)
    val got = GraphQueries.q33_pagerank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected && got.nonEmpty)
    // rank mass: teleport+damping conserve up to per-node truncation (<1e-10
    // of total each), so 3 iterations stay within a hair of full mass
    val total = got.values.sum
    assert(total > PageRank.Scale * 99L / 100 && total <= PageRank.Scale)
    // non-vacuous: ranks differentiated (a hub outranks a leaf somewhere)
    assert(got.values.toSet.size > 1)
    // fixed-point determinism: any input layout reproduces the same bits,
    // which float PageRank cannot promise
    import spark.implicits._
    val sym = (fwd ++ fwd.map(_.swap)).toSeq.toDF("src", "dst")
    for (parts <- Seq(1, 7)) {
      val re = PageRank.run(spark, sym.repartition(parts), iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(re == expected, s"rank vector differs at $parts input partitions")
    }
  }

  test("PageRank.run on a symmetric triangle keeps the uniform fixpoint") {
    import spark.implicits._
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val pr = PageRank.run(spark, edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // uniform in-degree = uniform ranks, each ~Scale/3 (minus truncation)
    assert(pr.keySet == Set(1L, 2L, 3L))
    assert(pr.values.toSet.size == 1)
    val third = PageRank.Scale / 3
    assert(math.abs(pr(1L) - third) < 10)
  }

  test("iterative loops leave session conf intact for concurrent queries") {
    // VERDICT r4 "wrong" #2: operator loops used to set/restore
    // spark.sql.shuffle.partitions session-globally, so a concurrent query
    // planned mid-loop silently inherited the shrunken value. Lock the
    // fix: while q24_cc (a multi-round iterative fixpoint) runs, a sibling
    // thread on the SAME session must (a) always observe the session's own
    // shuffle-partition setting and (b) keep computing correct results.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val confSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var loopDone = false
    val probe = new Thread(() => {
      try {
        while (!loopDone) {
          confSeen.add(spark.conf.get("spark.sql.shuffle.partitions"))
          val n = spark.range(1000).selectExpr("id % 10 AS k")
            .groupBy("k").count().count()
          if (n != 10) errors.add(s"concurrent agg returned $n groups")
        }
      } catch { case e: Throwable => errors.add(e.toString) }
    })
    probe.start()
    val serial = GraphQueries.q24_cc(spark, sf).collect().toSeq
    val concurrent =
      try GraphQueries.q24_cc(spark, sf).collect().toSeq
      finally { loopDone = true; probe.join(30000) }
    assert(concurrent == serial)
    assert(errors.isEmpty, s"probe thread failures: ${errors.toArray.mkString("; ")}")
    val seen = confSeen.toArray(Array.empty[String]).distinct.toSeq
    assert(seen == Seq(before),
      s"probe observed shuffle.partitions values $seen, expected only $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("q40_assortativity: moments close against a brute in-memory correlation") {
    val row = GraphQueries.q40_assortativity(spark, sf).collect().head
    val (nEdges, r) = (row.getLong(0), row.getDouble(3))
    assert(r >= -1.0 && r <= 1.0)
    // brute: recompute the same coefficient from the raw edge list
    val edges = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("l_suppkey AS s", "l_partkey AS p").distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(nEdges == edges.length)
    val sd = edges.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val pd = edges.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val xs = edges.map(e => sd(e._1)); val ys = edges.map(e => pd(e._2))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    val brute = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(r - brute) < 1e-5, s"got $r, brute $brute")
  }

  test("q41_linkpred: jaccard algebra and the total top-k cut hold") {
    val rows = GraphQueries.q41_linkpred(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5)))
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach { case (s1, s2, common, d1, d2, j) =>
      assert(s1 < s2)
      assert(common >= 1 && common <= math.min(d1, d2))
      val expect = BigDecimal(common.toDouble / (d1 + d2 - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j == expect, s"pair ($s1,$s2)")
    }
    // the cut is ordered by (jaccard DESC, s1, s2) — a total order
    val key = rows.map(r => (-r._6, r._1, r._2))
    assert(key.sameElements(key.sorted))
  }

  test("Hits: engine matches the in-memory integer recurrence on a hand graph") {
    import spark.implicits._
    // bipartite: s1 endorses 3 parts, s3 endorses 2, s2 endorses 1 —
    // hub order must come out s1 > s3 > s2; p1 (endorsed by all) tops auth
    val edges = Seq((1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 101L), (3L, 101L), (3L, 102L)).toDF("src", "dst")
    val iters = 2
    // brute fold of the declared recurrence
    val S = Hits.Scale
    val es = Seq(1L -> 101L, 1L -> 102L, 1L -> 103L,
      2L -> 101L, 3L -> 101L, 3L -> 102L)
    var h = es.map(_._1).distinct.map(_ -> S).toMap
    var a = Map.empty[Long, Long]
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max; m.map { case (k, v) => k -> (v * S) / mx }
    }
    for (_ <- 1 to iters) {
      a = norm(es.groupBy(_._2).map { case (p, e) =>
        p -> e.map(x => h(x._1)).sum })
      h = norm(es.groupBy(_._1).map { case (s, e) =>
        s -> e.map(x => a(x._2)).sum })
    }
    val got = Hits.run(spark, edges, iters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = (h.toSeq.map { case (n, s) => ("hub", n, s) } ++
      a.toSeq.map { case (n, s) => ("auth", n, s) }).sortBy(x => (x._1, x._2))
    assert(got == want)
    // max-normalization: each relation's top score is exactly Scale
    assert(got.filter(_._1 == "hub").map(_._3).max == S)
    assert(got.filter(_._1 == "auth").map(_._3).max == S)
    // ranking sanity on the hand graph
    val hub = got.filter(_._1 == "hub").map(x => x._2 -> x._3).toMap
    assert(hub(1L) > hub(3L) && hub(3L) > hub(2L))
    val auth = got.filter(_._1 == "auth").map(x => x._2 -> x._3).toMap
    assert(auth(101L) == auth.values.max)
  }

  test("Scc: hand graph with two cycles, a chain, a self-loop, and a tail") {
    import spark.implicits._
    // cycle {1,2,3} -> 4 -> cycle {5,6}; 7 self-loops; 8 -> 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (7L, 7L), (8L, 1L)).toDF("src", "dst")
    val got = Scc.run(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("Scc: negative node ids survive both tiers (no sentinel collision)") {
    import spark.implicits._
    // -1 participates in a cycle AND as a lone SCC root candidate: a
    // sentinel-based component pop would corrupt or crash on it
    val edges = Seq((-1L, 2L), (2L, -1L), (2L, 3L), (-5L, -1L))
      .toDF("src", "dst")
    val want = Seq((-5L, -5L), (-1L, -1L), (2L, -1L), (3L, 3L))
    val driver = Scc.run(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(driver == want)
    val dist = Scc.run(spark, edges, driverFinishMaxEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dist == want)
  }

  test("Scc: random directed graphs match the in-memory mutual-reachability closure") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    for (trial <- 1 to 3) {
      val n = 24
      val edges = (1 to 70).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      // Floyd-Warshall closure
      val reach = Array.fill(n, n)(false)
      edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = present.map { v =>
        val mut = (0 until n).filter(w =>
          reach(v.toInt)(w) && reach(w)(v.toInt)).map(_.toLong)
        v -> (mut :+ v).min
      }
      // BOTH tiers must match the closure: the bounded driver finish
      // (default cap — fires immediately on a graph this small) and the
      // pure distributed peel loop (cap 0)
      val got = Scc.run(spark, edges.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"trial $trial (driver tier)")
      val dist = Scc.run(spark, edges.toDF("src", "dst"),
          driverFinishMaxEdges = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(dist == want, s"trial $trial (distributed tier)")
      // mixed: the initial residual (edges+nodes ~90) exceeds cap 40, so
      // peel 1 runs distributed and the TAIL driver-finishes
      val mixed = Scc.run(spark, edges.toDF("src", "dst"),
          driverFinishMaxEdges = 40L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(mixed == want, s"trial $trial (mixed tier)")
    }
  }

  test("q42_hits: bipartite sides separate, scores max-normalized, deterministic") {
    val rows = GraphQueries.q42_hits(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (hubs, auths) = rows.partition(_._1 == "hub")
    assert(hubs.nonEmpty && auths.nonEmpty)
    // hubs are suppliers (< 1000000), authorities are offset parts
    assert(hubs.forall(_._2 < 1000000L) && auths.forall(_._2 >= 1000000L))
    assert(hubs.map(_._3).max == Hits.Scale && auths.map(_._3).max == Hits.Scale)
    assert(rows.forall(_._3 >= 0))
    // byte-deterministic across independent runs
    val again = GraphQueries.q42_hits(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("runMulti == per-landmark Bfs.run; q45 harmonic replays the decimal fold") {
    import spark.implicits._
    // hand graph: path 1-2-3-4 plus a spur 2-5, undirected
    val und = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 5L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val multi = graft.graph.Bfs.runMulti(spark, edges, Seq(1L, 4L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for (lm <- Seq(1L, 4L)) {
      val single = graft.graph.Bfs.run(spark, edges, Seq(lm))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      single.foreach { case (n, d) => assert(multi((n, lm)) == d) }
    }
    // q45: harmonic = Σ round(1/d, 9) over reached landmarks, d > 0 only
    val rows = GraphQueries.q45_closeness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nl, h) =>
      assert(nl >= 1 && nl <= 4)
      // harmonic of nl landmarks at distance >= 1 is bounded by nl
      assert(h > 0.0 && h <= nl.toDouble)
    }
    // landmarks themselves: node 1 reaches landmarks 2..4 but not itself
    val lm1 = rows.find(_._1 == 1L)
    assert(lm1.exists(_._2 <= 3))
  }

  test("q49_degdist: buckets tile degree ranges, nodes sum to the graph") {
    val rows = GraphQueries.q49_degdist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // bucket b covers [2^b, 2^(b+1)): min/max must sit inside
    rows.foreach { case (b, n, mn, mx) =>
      assert(n > 0 && mn >= (1L << b) && mx < (1L << (b + 1)) && mn <= mx)
    }
    // node totals across buckets equal the graph's vertex count
    val li = graft.Tables.load(spark, sf, "lineitem")
    val nNodes = li.selectExpr("l_suppkey AS n").distinct().count() +
      li.selectExpr("l_partkey AS n").distinct().count()
    assert(rows.map(_._2).sum == nNodes)
  }

  test("runPersonalized: hand integer fold on a triangle, seed-only teleport") {
    import spark.implicits._
    val und = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = PageRank.runPersonalized(spark, edges, Seq(1L), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // hand fold (SCALE = 1e12, all degrees 2):
    //   it1: pr(1) = tele = 150e9; pr(2) = pr(3) = 85%·500e9 = 425e9
    //   it2: pr(1) = 150e9 + 85%·425e9 = 511.25e9;
    //        pr(2) = pr(3) = 85%·(75e9 + 212.5e9) = 244.375e9
    assert(got == Map(1L -> 511250000000L, 2L -> 244375000000L,
      3L -> 244375000000L))
    // q48 form: only mass injected at the seeds; every rank non-negative
    val rows = GraphQueries.q48_ppr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall(_._2 >= 0))
    assert(Seq(1L, 2L, 3L, 4L).forall(l => rows.find(_._1 == l).get._2 > 0))
  }

  test("Truss: K4 survives 4-truss refinement, lone triangle and pendant drop") {
    import spark.implicits._
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (6L, 7L), (6L, 8L), (7L, 8L)))
      .toDF("u", "v")
    val got = Truss.run(spark, edges, k = 4, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the pendant (no triangles) and the lone triangle (support 1 < 2)
    // drop in pass 1; every K4 edge keeps support 2 on the final set
    assert(got.toSeq == k4.map { case (a, b) => (a, b, 2L) })
    // q47 on the testdata: survivors only carry support >= 0 and the
    // relation is a subset of the raw co-occurrence pairs
    val raw = GraphQueries.cooccurPairs(
      GraphQueries.userBuckets(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q47 = GraphQueries.q47_ktruss(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(q47.forall { case (u, v, _) => raw((u, v)) })
  }

  test("q46_ecc: per-landmark ecc equals a direct single-source BFS") {
    val rows = GraphQueries.q46_ecc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    rows.foreach { case (_, n, e) => assert(n >= 1 && e >= 1 && e <= 8) }
    // cross-check landmark 1 against the single-source loop at the same
    // horizon
    val li = graft.Tables.load(spark, sf, "lineitem")
    val fwd = li.selectExpr("l_suppkey AS src", "l_partkey + 1000000 AS dst")
      .distinct()
    val edges = fwd.unionAll(fwd.selectExpr("dst AS src", "src AS dst"))
    val single = Bfs.run(spark, edges, Seq(1L), maxDepth = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val (_, n1, e1) = rows.find(_._1 == 1L).get
    assert(n1 == single.length && e1 == single.map(_._2).max)
  }

  test("lccOn: triangle-plus-pendant hand graph lands in the right buckets") {
    import spark.implicits._
    // triangle 1-2-3, pendant 4 on node 1: node 1 deg 3, t 1 -> lcc 1/3
    // (bucket 3); nodes 2,3 deg 2, t 1 -> lcc 1.0 (bucket 9, LEAST-capped);
    // node 4 deg 1 -> excluded (lcc undefined below deg 2)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("u", "v")
    val got = GraphQueries.lccOn(und).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((3, 1L, 0.333333), (9, 2L, 1.0)))
    // oracle form at sf0.01 (sf0.001's co-occurrence graph is a single
    // edge — no deg>=2 node, legitimately empty): buckets in range
    val orc = GraphQueries.q50_lcc(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(orc.nonEmpty)
    orc.foreach { case (b, n, m) =>
      assert(b >= 0 && b <= 9 && n > 0 && m >= 0.0 && m <= 1.0) }
  }

  test("q52_compdist: histogram replays q24's component labels exactly") {
    val dir = "/root/testdata/sf0.01"
    val comps = GraphQueries.q24_cc(spark, dir).collect()
      .map(r => r.getLong(1))
    val sizes = comps.groupBy(identity).values.map(_.length).toSeq
    val want = sizes.groupBy(sz => 63 - java.lang.Long.numberOfLeadingZeros(sz))
      .map { case (b, ss) =>
        (b.toLong, ss.length.toLong, ss.map(_.toLong).sum,
          ss.min.toLong, ss.max.toLong) }.toSet
    val got = GraphQueries.q52_compdist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("Coreness: h-index fixpoint == min-heap peeling oracle + KCore") {
    import spark.implicits._
    // hand graph: triangle 1-2-3 with pendant 4 -> coreness 2,2,2,1
    val fwd = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val sym = fwd.unionAll(fwd.selectExpr("dst AS src", "src AS dst"))
    val hand = Coreness.run(spark, sym).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hand.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 1L)))
    // the real graph: in-memory peel on the sf0.001 supplier-part edges
    val li = graft.Tables.load(spark, sf, "lineitem")
    val edges = li.selectExpr("l_suppkey AS u", "l_partkey + 1000000 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    val deg = scala.collection.mutable.Map(adj.view.mapValues(_.size).toSeq: _*)
    val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Long)](
      Ordering.by[(Int, Long), Int](_._1).reverse)
    deg.foreach { case (n, d) => pq.enqueue((d, n)) }
    val core = scala.collection.mutable.Map.empty[Long, Int]
    var cur = 0
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (!core.contains(n) && d == deg(n)) {
        cur = math.max(cur, d); core(n) = cur
        adj(n).foreach { m =>
          if (!core.contains(m)) { deg(m) -= 1; pq.enqueue((deg(m), m)) }
        }
      }
    }
    val fwd2 = li.selectExpr("l_suppkey AS src", "l_partkey + 1000000 AS dst")
      .distinct()
    val sym2 = fwd2.unionAll(fwd2.selectExpr("dst AS src", "src AS dst"))
      .localCheckpoint(eager = true)
    // BOTH tiers must match the in-test oracle: the bounded driver peel
    // (default cap — fires on a graph this small) and the distributed
    // h-index fixpoint (cap 0)
    val got = Coreness.run(spark, sym2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == core.map { case (n, c) => n -> c.toLong }.toMap)
    val dist = Coreness.run(spark, sym2, driverFinishMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got, "driver and distributed coreness tiers diverge")
    // KCore cross-check: {coreness >= k} is EXACTLY the k-core, twice
    for (k <- Seq(2, core.values.max / 2)) {
      val kc = KCore.run(spark, sym2, k).collect().map(_.getLong(0)).toSet
      assert(got.filter(_._2 >= k).keySet == kc, s"k=$k mismatch")
    }
    // the query form rolls the same decomposition into a histogram
    val hist = GraphQueries.q53_coreness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val wantHist = core.values.groupBy(identity).map { case (c, xs) =>
      c.toLong -> xs.size.toLong }
    assert(hist == wantHist)
  }

  test("q51_transitivity: triangle leg agrees with q25, ratio bounded") {
    val dir = "/root/testdata/sf0.01"
    val t = GraphQueries.q51_transitivity(spark, dir).collect()
    assert(t.length == 1)
    val (nTri, nWedge, trans) =
      (t(0).getLong(0), t(0).getLong(1), t(0).getDouble(2))
    val q25 = GraphQueries.q25_triangles(spark, dir).collect()(0).getLong(0)
    assert(nTri == q25, s"q51 triangles $nTri != q25 $q25")
    // every triangle closes 3 wedges; transitivity = 3T/W must be (0,1]
    assert(nWedge >= 3 * nTri && trans > 0.0 && trans <= 1.0)
  }

  /** The Walks digest-tape transition, replayed in plain JVM code. */
  private def md5Draw(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.substring(0, 15), 16)
  }

  test("q54_walks equals an in-memory digest-tape replay (full trajectories)") {
    import spark.implicits._
    val fwd = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("CAST(l_suppkey AS LONG) AS src",
        "CAST(l_partkey + 1000000 AS LONG) AS dst")
      .distinct().as[(Long, Long)].collect()
    val adjS = fwd.flatMap { case (u, v) => Seq(u -> v, v -> u) }.distinct
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).sorted }
    val seeds = fwd.map(_._1).distinct.sorted
    val want = seeds.flatMap { seed =>
      var node = seed
      (0 to 4).map { t =>
        if (t > 0) {
          val ns = adjS(node)
          node = ns((md5Draw(s"wk42:$seed:$t") % ns.length).toInt)
        }
        (seed, t, node)
      }
    }.toSet
    val got = GraphQueries.q54_walks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("LabelProp: synchronous plurality vote == in-memory replay; bridged triangles split") {
    import spark.implicits._
    // two triangles joined by a single bridge 3-4: reachability (CC)
    // sees ONE component; three LPA rounds must recover the two dense
    // clusters. The replay below applies the exact update rule —
    // plurality over the node's own label plus its neighbors', ties to
    // the smallest label — synchronously, so the engine result must
    // match label-for-label.
    val fwd = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val adj = fwd.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) lbl = adj.map { case (n, ns) =>
      val votes = (lbl(n) +: ns.map(lbl)).groupBy(identity)
        .map { case (l, xs) => (l, xs.size) }
      val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      n -> best
    }
    val got = LabelProp.run(spark,
      fwd.toDF("u", "v"), rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl)
    // the vote found exactly two communities, split at the bridge
    assert(Set(1L, 2L, 3L).map(got) != Set(4L, 5L, 6L).map(got))
    assert(Set(1L, 2L, 3L).map(got).size == 1)
    assert(Set(4L, 5L, 6L).map(got).size == 1)
  }

  test("richClub: K4-with-pendants ladder reads exact densities; empty clubs read NULL") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus pendants 5,6 on node 1: degrees 5,3,3,3,1,1.
    // deg>1 club = the K4 (6 of 6 edges → φ=1); deg>4 club = {1} alone
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (1L, 6L)).toDF("u", "v")
    val got = GraphQueries.richClub(und).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.toSeq == Seq(
      (1, 4L, 6L, Some(1.0)), (2, 4L, 6L, Some(1.0)),
      (4, 1L, 0L, None), (8, 0L, 0L, None),
      (16, 0L, 0L, None), (32, 0L, 0L, None)))
  }

  test("modularity: bridged triangles score the hand contributions; one-community partition reads exactly 0") {
    import spark.implicits._
    // same graph as the LabelProp spec: m=7, two degree-7 triangles
    // joined by the 3-4 bridge. Per community: e_c=3, d_c=7 →
    // 3/7 − (7/14)² = 0.178571 each (Q ≈ 0.357 — a real split)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L)).toDF("u", "v")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "community")
    val got = GraphQueries.modularity(und, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 7L, 0.178571), (4L, 3L, 3L, 7L, 0.178571)))
    // the whole graph as one community: e_c=m, d_c=2m → 1 − 1 = 0,
    // exactly — the null partition carries no modularity
    val g1 = GraphQueries.modularity(und,
      labels.selectExpr("node", "CAST(9 AS BIGINT) AS community")).collect()
    assert(g1.length == 1 && g1.head.getDouble(4) == 0.0)
    // all-singleton partition: no intra edges, every contribution < 0
    GraphQueries.modularity(und,
      labels.selectExpr("node", "node AS community")).collect()
      .foreach { r => assert(r.getLong(2) == 0L && r.getDouble(4) < 0.0) }
  }

  test("Walks: a dead-end vertex truncates the walk, steps 0..k emitted") {
    import spark.implicits._
    // directed path 1 -> 2 -> 3, nothing out of 3: the walk is forced
    // down the path and ends at the sink with 3 of the requested 6 rows
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((7L, 1L)).toDF("walk_id", "node")
    val rows = Walks.run(spark, edges, seeds, steps = 5, salt = "x")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows == Set((7L, 0, 1L), (7L, 1, 2L), (7L, 2, 3L)))
  }

  /** In-memory horizon-bounded pivot Brandes on the SAME integer
    * lattice as the operator: δ in nano-units via the truncating
    * quotient σv·(1e9 + δw) div σw, one terminal /1e9 + 6-dp round.
    */
  private def bcReplay(undEdges: Seq[(Long, Long)], nPivots: Int,
      horizon: Int): Map[Long, Double] = {
    val dir = undEdges ++ undEdges.map(e => (e._2, e._1))
    val adj = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val pivots = adj.keySet.toSeq.sorted.take(nPivots)
    val bc = scala.collection.mutable.Map[Long, BigInt]()
      .withDefaultValue(BigInt(0))
    for (s <- pivots) {
      val sig = scala.collection.mutable.Map(s -> 1L)
      val levels = scala.collection.mutable.ListBuffer(Set(s))
      var visited = Set(s)
      for (d <- 1 to horizon) {
        val nxt = scala.collection.mutable.Map[Long, Long]()
        for (v <- levels(d - 1); w <- adj.getOrElse(v, Nil)
             if !visited.contains(w))
          nxt(w) = nxt.getOrElse(w, 0L) + sig(v)
        levels += nxt.keySet.toSet
        visited ++= nxt.keySet
        nxt.foreach { case (w, c) => sig(w) = c }
      }
      val delta = scala.collection.mutable.Map[Long, BigInt]()
        .withDefaultValue(BigInt(0))
      for (d <- (horizon - 1) to 1 by -1; v <- levels(d)) {
        var acc = BigInt(0)
        for (w <- adj.getOrElse(v, Nil) if levels(d + 1).contains(w))
          acc += BigInt(sig(v)) * (BigInt(1000000000) + delta(w)) /
            BigInt(sig(w))
        delta(v) = acc
      }
      for ((v, dl) <- delta if v != s) bc(v) += dl
      for (v <- levels(horizon) if v != s && !bc.contains(v)) bc(v) += 0
    }
    bc.map { case (v, x) =>
      v -> BigDecimal(x.toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  test("Betweenness: path-counting on a hand graph; bridge node carries all pair dependencies") {
    import spark.implicits._
    // two 3-cliques bridged by node 4: 1-2-3-1, 4, 5-6-7-5; 3-4, 4-5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L))
    val got = Betweenness.run(spark, edges.toDF("u", "v"),
      nPivots = 8, horizon = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = bcReplay(edges, 8, 4)
    assert(got == want)
    // the bridge (4) and the clique gateways (3, 5) dominate
    assert(got(4L) > got(1L) && got(3L) > got(1L) && got(5L) > got(7L))
  }

  test("Betweenness: random graphs match the in-memory replay at the declared pivots/horizon") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    for (_ <- 1 to 3) {
      val n = 20
      val und = (1 to 40).map { _ =>
        val a = rng.nextInt(n) + 1L; val b = rng.nextInt(n) + 1L
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val got = Betweenness.run(spark, und.toDF("u", "v"),
        nPivots = 8, horizon = 4).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == bcReplay(und, 8, 4))
    }
  }

  /** In-memory truncated-Katz replay on the operator's integer lattice:
    * walk-count DP, per-level integer scaling, one terminal division.
    */
  private def katzReplay(undEdges: Seq[(Long, Long)], horizon: Int,
      invAlpha: Int): Map[Long, Double] = {
    val dir = undEdges ++ undEdges.map(e => (e._2, e._1))
    val adj = dir.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = dir.map(_._1).distinct
    var w = nodes.map(_ -> BigInt(1)).toMap
    val acc = scala.collection.mutable.Map[Long, BigInt]()
      .withDefaultValue(BigInt(0))
    for (k <- 1 to horizon) {
      w = nodes.map { v =>
        v -> adj.getOrElse(v, Nil).map(u => w.getOrElse(u, BigInt(0))).sum
      }.toMap
      val weight = BigInt(invAlpha).pow(horizon - k)
      for ((v, c) <- w if c > 0) acc(v) += c * weight
    }
    val denom = math.pow(invAlpha.toDouble, horizon.toDouble)
    acc.map { case (v, x) =>
      v -> BigDecimal(x.toDouble / denom)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  test("Katz: hand star graph — the hub carries the walk mass; replay exact") {
    import spark.implicits._
    // star: hub 1 with leaves 2..6
    val edges = (2L to 6L).map(l => (1L, l))
    val got = Katz.run(spark, edges.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == katzReplay(edges, 4, 4))
    assert(got(1L) > got(2L) && (2L to 6L).map(got).distinct.size == 1)
  }

  test("Katz: random graphs match the in-memory walk DP") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    for (_ <- 1 to 3) {
      val n = 18
      val und = (1 to 35).map { _ =>
        val a = rng.nextInt(n) + 1L; val b = rng.nextInt(n) + 1L
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val got = Katz.run(spark, und.toDF("u", "v")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == katzReplay(und, 4, 4))
    }
  }

  /** In-memory FM-sketch replay of [[GraphQueries.anfOn]] — identical
    * hashes (md5), identical bit algebra, identical rounding.
    */
  private def anfReplay(und: Seq[(Long, Long)], rounds: Int = 4,
      masks: Int = 8): Map[Long, (Long, Double)] = {
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).distinct).toMap
    val nodes = adj.keySet
    def h(m: Int, node: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"anf$m:$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) | (1L << 30)
    }
    var sk: Map[Long, Array[Long]] = nodes.iterator.map(v =>
      v -> Array.tabulate(masks) { m => val x = h(m, v); x & -x }).toMap
    for (_ <- 1 to rounds) {
      sk = nodes.iterator.map(v => v -> Array.tabulate(masks)(m =>
        (adj(v).map(n => sk(n)(m)) :+ sk(v)(m)).reduce(_ | _))).toMap
    }
    sk.map { case (v, a) =>
      val bsum = a.map(s =>
        java.lang.Long.numberOfTrailingZeros(((s ^ (s + 1)) + 1) / 2)
          .toLong).sum
      val est = java.math.BigDecimal
        .valueOf(math.pow(2.0, bsum.toDouble / masks) / 0.77351)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      v -> ((bsum, est))
    }
  }

  test("ANF: disconnected cliques converge per component; replay exact") {
    import spark.implicits._
    // two cliques (1-5) and (11-14), no bridge: at h=4 every member's
    // sketch is the OR of its whole component — identical rows within
    // a component, different across (the hash sets differ)
    val k5 = for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)
    val k4 = for { a <- 11L to 14L; b <- a + 1 to 14L } yield (a, b)
    val und = k5 ++ k4
    val got = GraphQueries.anfOn(und.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == anfReplay(und))
    assert((1L to 5L).map(got).distinct.size == 1)
    assert((11L to 14L).map(got).distinct.size == 1)
    assert(got(1L) != got(11L))
  }

  test("ANF: random graphs match the in-memory FM replay") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    for (_ <- 1 to 3) {
      val n = 16
      val und = (1 to 30).map { _ =>
        val a = rng.nextInt(n) + 1L; val b = rng.nextInt(n) + 1L
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val got = GraphQueries.anfOn(und.toDF("u", "v")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == anfReplay(und))
    }
  }
}
