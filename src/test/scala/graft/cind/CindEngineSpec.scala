package graft.cind

import graft.SparkSpec
import graft.core.{Capture, ConditionCodes}

/** End-to-end CIND discovery on the hand-checkable fixture from FIXTURES.md
  * §2.1, verified against an in-test brute-force oracle that derives the CIND
  * set directly from first principles (capture value-set containment).
  */
class CindEngineSpec extends SparkSpec {

  // FIXTURES.md §2.1 cind_tiny — every CIND class has a witness at support 2.
  val tiny: Seq[(String, String, String)] = Seq(
    ("a1", "employs", "p1"), ("a1", "employs", "p2"),
    ("a2", "employs", "p3"), ("a2", "employs", "p4"),
    ("p1", "worksFor", "a1"), ("p2", "worksFor", "a1"),
    ("p3", "worksFor", "a2"), ("p4", "worksFor", "a2"),
    ("p1", "type", "Person"), ("p2", "type", "Person"),
    ("p3", "type", "Person"), ("p4", "type", "Person"))

  import ConditionCodes.{S, P, O}

  def bruteForce(triples: Seq[(String, String, String)], minSupport: Int)
      : Set[(Capture, Capture, Long)] = BruteForce(triples, minSupport)

  def toDF(ts: Seq[(String, String, String)]) = {
    import spark.implicits._
    ts.toDF("subj", "pred", "obj")
  }

  test("allCinds matches the brute-force oracle on cind_tiny (support 2)") {
    val got = CindEngine.allCinds(toDF(tiny), minSupport = 2).collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    val want = bruteForce(tiny, 2)
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    assert(got.nonEmpty)
    // spot-checks from FIXTURES.md §2.1
    val oPemploys = Capture(ConditionCodes.capture(P, O), "employs", "")
    val sPworksFor = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    val sPtype = Capture(ConditionCodes.capture(P, S), "type", "")
    assert(got.contains((oPemploys, sPworksFor, 4L)))
    assert(got.contains((oPemploys, sPtype, 4L)))
    assert(got.contains((sPworksFor, oPemploys, 4L)))
  }

  test("shuffle-join encode fallback is result-identical to the broadcast encode") {
    // dictEncodeMaxBroadcastRows = 0 forces the scale valve: no driver-side
    // dict collect, encode via shuffle equi-join — results must be
    // bit-identical on both the exact and the bloomCaptures line shapes
    def run() = CindEngine.allCinds(toDF(tiny), minSupport = 2).collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    def runBloom() = CindEngine.allCinds(toDF(tiny), minSupport = 2,
        bloomCaptures = true).collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    val (bExact, bBloom) = (run(), runBloom())
    spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
    try {
      assert(run() == bExact)
      assert(runBloom() == bBloom)
    } finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    assert(bExact == bruteForce(tiny, 2))
  }

  test("support-monotonicity prune is result-identical on hybrid and s2l") {
    // supportPruneMaxIds = 0 disables the map-side ref prune; the default
    // enables it. Both regimes must match each other AND the brute force —
    // the prune is exact (a ref poorer than its dep can never reach
    // co-count == support(dep)), so it may only shrink the evidence
    // exchange, never the result.
    def runH() = CindEngine.allCindsHybrid(toDF(tiny), minSupport = 2,
        spillThreshold = 2).collect() // tiny spill: force the wide/BF arm too
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    def runS2l() = CindEngine.allCindsSmallToLarge(toDF(tiny), minSupport = 2)
      .collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    val (prunedH, prunedS) = (runH(), runS2l())
    spark.conf.set("spark.graft.cind.supportPruneMaxIds", "0")
    try {
      assert(runH() == prunedH)
      assert(runS2l() == prunedS)
    } finally spark.conf.unset("spark.graft.cind.supportPruneMaxIds")
    val want = bruteForce(tiny, 2)
    assert(prunedH == want)
    assert(prunedS == want)
  }

  test("allCinds respects the support threshold") {
    val got = CindEngine.allCinds(toDF(tiny), minSupport = 3).collect()
    assert(got.forall(_.support >= 3))
    // {a1,a2}-valued captures (support 2) must be gone as deps
    assert(!got.exists(r => r.dep_v1 == "employs" && r.dep_code ==
      ConditionCodes.capture(P, S)))
    val want = bruteForce(tiny, 3)
    val gotSet = got.map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    assert(gotSet == want)
  }

  test("minimalCinds drops implied CINDs and keeps the rest") {
    import spark.implicits._
    val all = CindEngine.allCinds(toDF(tiny), minSupport = 2)
    val minimal = CindEngine.minimalCinds(all.toDF()).as[CindRow].collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2))).toSet
    val allSet = all.collect().map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2))).toSet
    assert(minimal.subsetOf(allSet))
    // (a) binary dep implied by unary-dep CIND with same ref:
    //     s[p=type,o=Person] ⊑ o[p=employs] implied by s[p=type] ⊑ o[p=employs]
    val binDep = Capture(ConditionCodes.capture(P | O, S), "type", "Person")
    val ref = Capture(ConditionCodes.capture(P, O), "employs", "")
    assert(allSet.contains((binDep, ref)))
    assert(!minimal.contains((binDep, ref)))
    // (b) unary ref implied by binary-ref CIND from same dep:
    //     s[p=worksFor] ⊑ s[o=Person] implied by s[p=worksFor] ⊑ s[p=type,o=Person]
    val dep = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    val uRef = Capture(ConditionCodes.capture(O, S), "Person", "")
    val bRef = Capture(ConditionCodes.capture(P | O, S), "type", "Person")
    assert(allSet.contains((dep, bRef)))
    assert(allSet.contains((dep, uRef)))
    assert(!minimal.contains((dep, uRef)))
    assert(minimal.contains((dep, bRef)))
  }

  /** Rules (a) and (b) of [[CindEngine.minimalCinds]] from first
    * principles, over a CIND multiset; also returns which sub position of
    * which rule dropped each removed row ("a1", "a2", "b1", "b2"). */
  def minimalBruteForce(rows: Seq[CindRow]): (Seq[CindRow], Set[String]) = {
    def caps(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2))
    val pairs = rows.map(caps).toSet
    def firing(r: CindRow): Set[String] = {
      val (dep, ref) = caps(r)
      val a = if (!dep.isBinary) Set.empty[String] else
        Set("a1" -> dep.firstSub, "a2" -> dep.secondSub)
          .collect { case (t, sub) if pairs((sub, ref)) => t }
      val b = if (!ref.isUnary) Set.empty[String] else
        pairs.toSeq.flatMap { case (d, bin) =>
          if (d != dep || !bin.isBinary) Nil
          else Seq("b1" -> bin.firstSub, "b2" -> bin.secondSub)
            .collect { case (t, sub) if sub == ref => t }
        }.toSet
      a ++ b
    }
    val fired = rows.map(r => r -> firing(r))
    (fired.collect { case (r, f) if f.isEmpty => r }, fired.flatMap(_._2).toSet)
  }

  test("minimalCinds equals the brute-force rules on random CIND sets (cached and uncached)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = Seq("x", "y")
    def capture(): Capture = {
      val code = ConditionCodes.allCaptures(rnd.nextInt(ConditionCodes.allCaptures.length))
      Capture(code, values(rnd.nextInt(values.size)),
        if (ConditionCodes.isBinary(code)) values(rnd.nextInt(values.size)) else "")
    }
    def row(): CindRow = {
      val (d, r) = (capture(), capture())
      CindRow(d.code, d.v1, d.v2, r.code, r.v1, r.v2, 2L + rnd.nextInt(2))
    }
    def sorted(rs: Seq[CindRow]) = rs.map(r => (r.dep_code, r.dep_v1, r.dep_v2,
      r.ref_code, r.ref_v1, r.ref_v2, r.support)).sorted
    var fired = Set.empty[String]
    for (trial <- 1 to 6) {
      val base = Seq.fill(120)(row())
      val rows = base ++ base.take(10) // exact duplicate rows survive or drop together
      val (want, f) = minimalBruteForce(rows)
      fired ++= f
      val cached = trial % 2 == 0
      val input = rows.toDS().toDF()
      if (cached) { input.persist(); input.count() }
      val out = CindEngine.minimalCinds(input)
      val got = out.as[CindRow].collect().toSeq
      assert(sorted(got) == sorted(want), s"trial $trial (cached=$cached)")
      assert(input.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      out.unpersist()
    }
    // every sub position of both rules fired
    assert(fired == Set("a1", "a2", "b1", "b2"))
  }

  test("minimalCinds over a cached CIND set: bounded jobs, no cache left behind") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.catalog.clearCache()
    val all = CindEngine.allCinds(toDF(tiny), minSupport = 2)
    val sc = spark.sparkContext
    val group = "minimalCinds-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val minimal =
      try {
        sc.setJobGroup(group, group)
        try CindEngine.minimalCinds(all.toDF())
        finally sc.clearJobGroup()
      } finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    // one evidence collect, then cacheResult's persist + count (cache fill,
    // shuffle map, result)
    assert(jobs.get() <= 4, s"minimalCinds ran ${jobs.get()} jobs")
    assert(minimal.count() > 0)
    minimal.unpersist()
    assert(session.sharedState.cacheManager.isEmpty,
      "a cache entry from the discovery outlived the returned handle")
  }

  test("count-match and intersect strategies agree (cross-strategy invariant)") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val a = CindEngine.allCinds(toDF(tiny), minSupport = 2).collect().map(key).toSet
    val b = CindEngine.allCindsIntersect(toDF(tiny), minSupport = 2).collect().map(key).toSet
    assert(a == b)
  }

  test("skew split leaves the CIND set unchanged (rebalancing invariant)") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    // threshold 2 forces every line wider than 2 captures through the
    // slice-replicate-repartition path (FIXTURES.md skew.nt invariant)
    val split = CindEngine.allCinds(toDF(tiny), minSupport = 2, splitThreshold = 2)
      .collect().map(key).toSet
    assert(split == bruteForce(tiny, 2))
  }

  test("bloom condition pruning leaves the CIND set unchanged") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val b = CindEngine.allCinds(toDF(tiny), minSupport = 2, bloomConditions = true)
      .collect().map(key).toSet
    assert(b == bruteForce(tiny, 2))
    // frequent-captures BF (reference --find-frequent-captures) is likewise
    // semantics-preserving: FPs only reach the inner encode join, which
    // drops them
    val bc = CindEngine.allCinds(toDF(tiny), minSupport = 2,
      bloomConditions = true, bloomCaptures = true)
      .collect().map(key).toSet
    assert(bc == bruteForce(tiny, 2))
  }

  test("unaryOverlaps reports exact co-occurrence counts; overlap==support <=> CIND") {
    val ov = CindEngine.unaryOverlaps(toDF(tiny), minSupport = 2).collect()
      .map(r => ((Capture(r.getInt(0), r.getString(1), ""),
        Capture(r.getInt(2), r.getString(3), "")), (r.getLong(4), r.getLong(5)))).toMap
    // o[p=employs] (4 values) vs s[p=worksFor] (4 values): all 4 co-occur
    val dep = Capture(ConditionCodes.capture(P, O), "employs", "")
    val ref = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    assert(ov((dep, ref)) == ((4L, 4L)))
    // s[p=employs] {a1,a2} vs s[p=worksFor] {p1..p4}: no shared values -> absent
    assert(!ov.contains((Capture(ConditionCodes.capture(P, S), "employs", ""), ref)))
    // the CIND criterion: overlap == dep_support exactly for brute-force CINDs
    val cindsFromOverlaps = ov.collect { case ((d, r), (o, s)) if o == s && !d.implies(r) => (d, r, s) }.toSet
    val unaryBrute = bruteForce(tiny, 2).filter { case (d, r, _) => d.isUnary && r.isUnary }
    assert(cindsFromOverlaps == unaryBrute)
    // the overlap-side sketch is semantics-preserving (even deliberately
    // undersized, heavy-collision sketches only weaken pruning)
    val exact = CindEngine.unaryOverlaps(toDF(tiny), minSupport = 2, sketch = false)
      .collect().map(_.toSeq).toSet
    val sketched = CindEngine.unaryOverlaps(toDF(tiny), minSupport = 2,
      sketch = true, expectedPairs = 64).collect().map(_.toSeq).toSet
    assert(sketched == exact)
  }

  test("two-round sketch-pruned strategy equals the exact CIND set") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    // deliberately tiny sketch: heavy collisions weaken pruning but must
    // never change the result
    val t = CindEngine.allCindsTwoRound(toDF(tiny), minSupport = 2, expectedPairs = 64)
      .collect().map(key).toSet
    assert(t == bruteForce(tiny, 2))
  }

  test("small-to-large staged strategy equals the exact CIND set") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    // the fixture has witnesses in all four arity classes, so every ladder
    // stage (1/1 overlaps, 1/2 + 2/1 extraction, 2/2 extraction) is live
    val got = CindEngine.allCindsSmallToLarge(toDF(tiny), minSupport = 2)
      .collect().map(key).toSet
    val want = bruteForce(tiny, 2)
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    assert(got.exists { case (d, r, _) => d.v2 != "" && r.v2 != "" }) // a 2/2 survived
  }

  test("hybrid single-pass strategy equals the exact CIND set at every spill threshold") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val want = bruteForce(tiny, 2)
    // spill 1: essentially every line spills to Bloom bits (the all-approx
    // extreme — every dep resolves through the round-2 refinement);
    // spill 4: mixed exact + Bloom evidence per dep (the hybrid buffer's
    // reason to exist); spill 1024: nothing spills (pure-exact path)
    for (spill <- Seq(1, 4, 1024)) {
      val got = CindEngine.allCindsHybrid(toDF(tiny), minSupport = 2,
        spillThreshold = spill).collect().map(key).toSet
      assert(got == want,
        s"spill=$spill\nmissing=${want -- got}\nextra=${got -- want}")
    }
  }

  test("allCindsPruned drops AR-implied binary captures and implied 1/1 CINDs") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val got = CindEngine.allCindsPruned(toDF(tiny), minSupport = 2)
      .collect().map(key).toSet
    // rules at support 2 on cind_tiny: p=type->o=Person (and converse),
    // s=a1->p=employs, s=a2->p=employs, o=a1->p=worksFor, o=a2->p=worksFor.
    // (1) binary captures merging a rule's two sides are never emitted:
    val arBinary = Set(
      Capture(ConditionCodes.capture(P | O, S), "type", "Person"),
      Capture(ConditionCodes.capture(P | O, S), "worksFor", "a1"),
      Capture(ConditionCodes.capture(P | O, S), "worksFor", "a2"),
      Capture(ConditionCodes.capture(S | P, O), "a1", "employs"),
      Capture(ConditionCodes.capture(S | P, O), "a2", "employs"))
    // (2) the rule-implied 1/1 CINDs proj[ante] ⊑ proj[cons] are filtered:
    val implied = Set(
      (Capture(ConditionCodes.capture(P, S), "type", ""),
        Capture(ConditionCodes.capture(O, S), "Person", "")),
      (Capture(ConditionCodes.capture(O, S), "Person", ""),
        Capture(ConditionCodes.capture(P, S), "type", "")),
      (Capture(ConditionCodes.capture(S, O), "a1", ""),
        Capture(ConditionCodes.capture(P, O), "employs", "")),
      (Capture(ConditionCodes.capture(S, O), "a2", ""),
        Capture(ConditionCodes.capture(P, O), "employs", "")),
      (Capture(ConditionCodes.capture(O, S), "a1", ""),
        Capture(ConditionCodes.capture(P, S), "worksFor", "")),
      (Capture(ConditionCodes.capture(O, S), "a2", ""),
        Capture(ConditionCodes.capture(P, S), "worksFor", "")))
    val want = bruteForce(tiny, 2).filterNot { case (d, r, _) =>
      arBinary(d) || arBinary(r) || implied((d, r)) }
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    // sanity: the pruning actually removed something on this fixture
    assert(want.size < bruteForce(tiny, 2).size)
    assert(got.nonEmpty)
  }

  test("duplicate triples do not change the CIND set (set semantics)") {
    val got = CindEngine.allCinds(toDF(tiny ++ tiny), minSupport = 2).collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    assert(got == bruteForce(tiny, 2))
  }

  test("fallback regroup salts hot join values: one synthetic mega-value, identical lines") {
    // VERDICT r12 #2 done-criterion: a join value co-occurring with >= 1e5
    // captures must pass the shuffle-encode fallback under SMALL shuffle
    // partitions (the spec session runs 4) without any unbounded
    // collect_list buffer — the salted two-phase regroup splits it into
    // ceil(n/threshold) bounded sub-buffers — and the regrouped lines must
    // decode IDENTICALLY to the broadcast-regime encode.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, explode, lit}
    val n = 60000
    // every triple shares pred "p" and obj "hub": the o-projected join line
    // for "hub" (and the p-projected line for "p") holds 2n+1 captures
    val triples = spark.range(n).select(
      concat(lit("s"), col("id")).as("subj"), lit("p").as("pred"),
      lit("hub").as("obj"))
    def decodedLines(forceFallback: Boolean)
        : (Map[String, Set[(Int, String, String)]], Map[String, Int]) = {
      if (forceFallback) {
        spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
        spark.conf.set("spark.graft.cind.hotLineSaltThreshold", "1000")
      }
      try {
        val enc = CindEngine.encodedJoinLines(triples, minSupport = 1)
        val (dict, lines) = (enc.dict, enc.lines)
        val rows = lines.select(col("join_val"), explode(col("ids")).as("id"))
          .join(dict.select(col("id"), col("code"), col("v1"), col("v2")), "id")
          .select(col("join_val"), col("code"), col("v1"), col("v2"))
          .collect()
        val byVal = rows.groupBy(_.getString(0))
        (byVal.map { case (jv, rs) =>
           jv -> rs.map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSet },
         byVal.map { case (jv, rs) => jv -> rs.length })
      } finally if (forceFallback) {
        spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
        spark.conf.unset("spark.graft.cind.hotLineSaltThreshold")
      }
    }
    val (salted, saltedLens) = decodedLines(forceFallback = true)
    val (bcast, _) = decodedLines(forceFallback = false)
    assert(salted("hub").size == 2 * n + 1) // the mega line: >= 1e5 captures
    // no id duplicated by the salting (each line's ids stay a set)
    saltedLens.foreach { case (jv, len) => assert(len == salted(jv).size, jv) }
    assert(salted == bcast)
  }

  test("salted regroup is result-identical on the standard fixture (extreme salting)") {
    // hotLineSaltThreshold = 1 makes EVERY value hot (nsalt = line width):
    // maximum split pressure through both fallback regroups (exact and
    // bloomCaptures shapes) must leave the CIND set bit-identical
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    def run(bloomCaps: Boolean) = CindEngine.allCinds(toDF(tiny), minSupport = 2,
      bloomCaptures = bloomCaps).collect().map(key).toSet
    spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
    spark.conf.set("spark.graft.cind.hotLineSaltThreshold", "1")
    try {
      assert(run(bloomCaps = false) == bruteForce(tiny, 2))
      assert(run(bloomCaps = true) == bruteForce(tiny, 2))
    } finally {
      spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
      spark.conf.unset("spark.graft.cind.hotLineSaltThreshold")
    }
  }

  test("projection restriction equals full discovery filtered to those projections") {
    val full = CindEngine.allCinds(toDF(tiny), 2).collect().toSet
    val sOnly = CindEngine.allCinds(toDF(tiny), 2, projections = "s").collect().toSet
    val sCodes = Set(10, 12, 14) // the three s-projection capture codes
    assert(sOnly == full.filter(c => sCodes(c.dep_code) && sCodes(c.ref_code)))
    val spOnly = CindEngine.allCinds(toDF(tiny), 2, projections = "sp").collect().toSet
    val spCodes = Set(10, 12, 14, 17, 20, 21)
    assert(spOnly == full.filter(c => spCodes(c.dep_code) && spCodes(c.ref_code)))
    intercept[IllegalArgumentException](
      CindEngine.captureInstances(toDF(tiny), "xyz"))
  }
}
