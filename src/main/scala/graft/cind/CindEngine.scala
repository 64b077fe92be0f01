package graft.cind

import graft.core.{Capture, ConditionCodes, SortedOps}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One capture's co-occurrence evidence from a single join line. */
final case class CindEvidence(dep: Capture, refs: Array[Capture])

/** Intersection result for one dependent capture. */
final case class CindSet(count: Long, refs: Array[Capture])

/** A discovered CIND row (final output shape). */
final case class CindRow(
    dep_code: Int, dep_v1: String, dep_v2: String,
    ref_code: Int, ref_v1: String, ref_v2: String,
    support: Long)

/** One hybrid evidence over encoded ids: a dependent capture plus its
  * co-occurring refs from ONE join line — exact (`bits` empty) for narrow
  * lines, Bloom bits (`refs` empty) for wide ones (reference
  * CreateHalfApproximateCindCandidates semantics). */
final case class HybridEvidence(dep: Long, refs: Array[Long], bits: Array[Long])

/** Hybrid aggregation buffer: exact sorted-intersection ∧ bitwise-AND'd
  * Bloom bits, with flags for which halves have been fed (reference
  * HalfApproximateCindSet's (refConditions, approximateRefConditions,
  * isExact) triple). `count == 0` marks the zero buffer. `refs` is the
  * intersected sorted id set, PLAIN longs — delta+varint packing these
  * buffers was built and MEASURED NEGATIVE at sf5 (r13, BASELINE.md):
  * reduce() pays an unpack+repack per evidence in the hot sort-based
  * aggregation (623 → 2890 s wall) while the wire bytes it aimed at are
  * NOT the max stage (that is the shared line-formation instance
  * exchange, invariant to evidence payload — proven by the prune run's
  * bit-identical 23,848 MB). */
final case class HybridCindSet(count: Long, refs: Array[Long], hasExact: Boolean,
    bits: Array[Long], hasBits: Boolean)

/** Exact second-round evidence: refs pre-filtered by round-1 state. */
final case class LongRefsEvidence(dep: Long, refs: Array[Long])

/** Exact intersection state for the second round (this exchange carries
  * one buffer per unsure dep per map partition). */
final case class LongRefsSet(count: Long, refs: Array[Long])

/** [[CindEngine.encodedJoinLines]]' result: the persisted capture
  * dictionary, the encoded lines relation (NOT persisted — each strategy
  * decides via [[CindEngine.persistEncodedLines]]), the dictionary's
  * counted size, whether the lines are a pure map over a cached upstream
  * (no shuffle to recompute — the persist-valve auto signal), and the
  * internal caches (lines0/dedup + dict) the STRATEGY must release once
  * its compact result is materialized (VERDICT r13 #4: these leaked). */
private[cind] final case class EncodedLines(
    dict: org.apache.spark.sql.DataFrame,
    lines: org.apache.spark.sql.DataFrame,
    nDict: Long,
    linesMapOnly: Boolean,
    internal: Seq[org.apache.spark.sql.Dataset[_]])

/** The CIND discovery pipeline, re-expressed Spark-first.
  *
  * Default plan (`allCinds`, count-match — README "The CIND pipeline"):
  *
  *   triples
  *     -> 9-way capture-instance fan-out   (explode; ref: CreateJoinPartners.scala:23-198)
  *     -> frequent-condition pruning       (broadcast semi-join or Bloom filter;
  *                                          ref: FrequentConditionPlanner BFs)
  *     -> dedup + capture dictionary       (persisted; dense int IDs; support
  *                                          filter; ref: RDFind.scala:348-400)
  *     -> join lines: groupBy(value)       (collect_list of ids; ref: UnionJoinCandidates)
  *     -> pair co-occurrence counts        (unordered-pair explode, skew split,
  *                                          packed longs; ref: overlap sets)
  *     -> CINDs: co-count == dep support   (ref: SmallToLargeTraversalStrategy.scala:63-105)
  *
  * Alternative strategies, all result-identical (spec-pinned):
  * `allCindsIntersect` (reference strategy 0: typed-Aggregator k-way
  * sorted-set intersection), `allCindsTwoRound` (reference strategies 2/3:
  * spectral-sketch candidate pruning + exact second round), and the
  * `bloomConditions` flag (frequency Bloom filters instead of exact
  * broadcast sets).
  *
  * The pruning layers are *semantics-preserving*: a capture can appear in a
  * reported CIND (as dep or ref) only if its support >= minSupport, and
  * support <= its condition's triple count, so dropping infrequent
  * conditions/captures — exactly or via an over-approximating sketch —
  * never changes the result; it only removes the quadratic work hidden in
  * hub join lines.
  */
object CindEngine {

  val DefaultMinSupport = 10

  import ConditionCodes.{S, P, O}

  /** The 9 capture shapes: (captureCode, conditionAttrs) with value columns.
    * For each triple and each projected attribute we emit the 2 unary and 1
    * binary capture instances that contain the projected value. */
  private def captureStruct(code: Int, v1: Column, v2: Column, joinVal: Column) =
    struct(lit(code).as("code"), v1.as("v1"), v2.as("v2"), joinVal.as("join_val"))

  /** Fan a triple table (subj, pred, obj) out to capture instances:
    * (code, v1, v2, join_val, cond_code). <= 3 rows per triple per
    * projected attribute. `projections` restricts which of s/p/o are
    * projected (reference --projection, programs/RDFind.scala:660-661 +
    * CreateJoinPartners.scala:86-147; default spo = all). Restricting
    * projections is equivalent to filtering full discovery to CINDs whose
    * dep AND ref project a kept attribute (captures of different
    * projections never pair pointwise-equal join semantics away --
    * spec-pinned in CindEngineSpec). */
  def captureInstances(triples: DataFrame, projections: String = "spo"): DataFrame = {
    require(projections.nonEmpty && projections.forall("spo".contains(_)),
      s"projections must be a non-empty subset of 'spo', got '$projections'")
    val s = col("subj"); val p = col("pred"); val o = col("obj")
    val empty = lit("")
    val armsFor = Map(
      // project s (join value = subj): conditions on p, o, and (p,o)
      's' -> Seq(
        captureStruct(ConditionCodes.capture(P, S), p, empty, s),
        captureStruct(ConditionCodes.capture(O, S), o, empty, s),
        captureStruct(ConditionCodes.capture(P | O, S), p, o, s)),
      // project p: conditions on s, o, (s,o)
      'p' -> Seq(
        captureStruct(ConditionCodes.capture(S, P), s, empty, p),
        captureStruct(ConditionCodes.capture(O, P), o, empty, p),
        captureStruct(ConditionCodes.capture(S | O, P), s, o, p)),
      // project o: conditions on s, p, (s,p)
      'o' -> Seq(
        captureStruct(ConditionCodes.capture(S, O), s, empty, o),
        captureStruct(ConditionCodes.capture(P, O), p, empty, o),
        captureStruct(ConditionCodes.capture(S | P, O), s, p, o)))
    val instances = array("spo".filter(projections.contains(_)).flatMap(armsFor): _*)
    triples
      .select(explode(instances).as("c"))
      .select(col("c.code"), col("c.v1"), col("c.v2"), col("c.join_val"))
      .withColumn("cond_code", col("code").bitwiseAND(lit(ConditionCodes.AttrMask)))
  }

  /** Condition occurrence counts: how many triples match each unary/binary
    * condition (reference FrequentConditionPlanner.scala:291-311,374-394 —
    * the two word-counts fused into one pass). Output:
    * (cond_code, v1, v2, cnt). */
  def conditionCounts(triples: DataFrame): DataFrame = {
    val s = col("subj"); val p = col("pred"); val o = col("obj")
    val empty = lit("")
    def cond(code: Int, v1: Column, v2: Column) =
      struct(lit(code).as("cond_code"), v1.as("v1"), v2.as("v2"))
    val conds = array(
      cond(S, s, empty), cond(P, p, empty), cond(O, o, empty),
      cond(S | P, s, p), cond(S | O, s, o), cond(P | O, p, o))
    triples
      .select(explode(conds).as("c"))
      .groupBy(col("c.cond_code").as("cond_code"), col("c.v1").as("v1"), col("c.v2").as("v2"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Binary condition counts restricted to pairs of frequent unary members
    * (reference E14 CreatedReducedDoubleConditionCounts.scala:22-95 and the
    * `--frequent-condition-strategy 1` regroup, FrequentConditionPlanner
    * .scala:319-365): a triple contributes a binary condition only when both
    * member values are themselves frequent. Spark-first shape: three
    * broadcast frequency joins flag the members, a conditional explode emits
    * surviving pairs, one map-side-combinable count finishes. Output:
    * (cond_code, v1, v2, cnt) with cnt >= minSupport. */
  def reducedBinaryConditionCounts(triples: DataFrame, minSupport: Int = DefaultMinSupport): DataFrame = {
    // no broadcast hint: frequent-value sets are bounded by data/minSupport,
    // not by a constant — AQE broadcasts them at runtime when they fit
    def freq(c: String, flag: String) =
      triples.groupBy(col(c).as(flag)).agg(count(lit(1)).as("n"))
        .filter(col("n") >= minSupport).drop("n")
    val flagged = triples
      .join(freq("subj", "fs"), col("subj") === col("fs"), "left")
      .join(freq("pred", "fp"), col("pred") === col("fp"), "left")
      .join(freq("obj", "fo"), col("obj") === col("fo"), "left")
    val fs = col("fs").isNotNull; val fp = col("fp").isNotNull; val fo = col("fo").isNotNull
    flagged
      .select(explode(array(
        when(fs && fp, struct(lit(3).as("cond_code"), col("subj").as("v1"), col("pred").as("v2"))),
        when(fs && fo, struct(lit(5).as("cond_code"), col("subj").as("v1"), col("obj").as("v2"))),
        when(fp && fo, struct(lit(6).as("cond_code"), col("pred").as("v1"), col("obj").as("v2"))))).as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("c.cond_code").as("cond_code"), col("c.v1").as("v1"), col("c.v2").as("v2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSupport)
  }

  /** 64-bit key of a condition, for shuffle-cheap frequency pruning: the
    * count shuffle and the broadcast set carry 8-byte hashes instead of
    * string pairs (binary conditions are mostly distinct, so their partial
    * aggregation barely reduces — hashing is what shrinks the bytes). A
    * collision can only MERGE counts, i.e. over-count, i.e. ADMIT an
    * infrequent condition — and every admitted instance still faces the
    * exact capture-support filter downstream, so results are identical
    * (same argument as the Bloom paths, which over-admit by design). */
  private def condHash(code: Column, v1: Column, v2: Column): Column =
    xxhash64(code, v1, v2)

  /** Hashes of conditions matched by >= minSupport triples (over-approximate
    * only through xxhash64 collisions — see [[condHash]]). */
  private def frequentConditionHashes(triples: DataFrame, minSupport: Int): DataFrame = {
    val s = col("subj"); val p = col("pred"); val o = col("obj")
    val e = lit("")
    triples.select(explode(array(
      condHash(lit(S), s, e), condHash(lit(P), p, e), condHash(lit(O), o, e),
      condHash(lit(S | P), s, p), condHash(lit(S | O), s, o), condHash(lit(P | O), p, o))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSupport)
      .select("h")
  }

  /** Capture instances that survive frequent-condition pruning. */
  def prunedCaptureInstances(triples: DataFrame, minSupport: Int,
      projections: String = "spo"): DataFrame = {
    // the hash set is ~8 bytes/condition but its cardinality scales with
    // vocabulary, so no forced broadcast — AQE decides from the runtime size
    val freq = frequentConditionHashes(triples, minSupport)
    captureInstances(triples, projections)
      .join(freq,
        condHash(col("cond_code"), col("v1"), col("v2")) === col("h"), "left_semi")
  }

  /** Distributed Bloom-filter build: per-partition filters merged by bitwise
    * OR (the reference's mapPartition-build + reduce-putAll pattern,
    * plan/FrequentConditionPlanner.scala:201-283 and 5 more call sites).
    * All filters share (numBits, numHashes) so merge is exact bit algebra. */
  def buildBloom(keys: org.apache.spark.sql.Dataset[String], expectedInsertions: Long,
      fpp: Double): graft.core.BloomFilter = {
    val proto = graft.core.Bloom.create(expectedInsertions, fpp)
    val (nb, nh) = (proto.numBits, proto.numHashes)
    val words = (nb + 63) >>> 6 // round UP: numBits need not be a 64-multiple
    val bitArrays = keys.mapPartitions { it =>
      val bf = graft.core.Bloom.wrap(nb, nh, new Array[Long](words))
      it.foreach(bf.put)
      Iterator.single(bf.bits)
    }(keys.sparkSession.implicits.newLongArrayEncoder)
    // treeReduce, NOT fold: fold pulls every partition's full bit array
    // through the driver; the tree combines them on executors (depth 2 covers
    // thousands of partitions with ~sqrt fan-in per level). Not treeAggregate
    // either: its zeroValue (a full empty bit array, MBs) would be serialized
    // into every task closure. mapPartitions emits exactly one array per
    // partition, so the RDD is non-empty whenever keys has partitions.
    val or = (a: Array[Long], b: Array[Long]) => {
      var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
    }
    val rdd = bitArrays.rdd
    val merged =
      if (rdd.getNumPartitions == 0) new Array[Long](words)
      else rdd.treeReduce(or, depth = 2)
    graft.core.Bloom.wrap(nb, nh, merged)
  }

  /** [[buildBloom]] for 64-bit keys: same partial-build + executor-side
    * tree merge, but the stream never materializes a String per key. */
  def buildBloomLongs(keys: org.apache.spark.sql.Dataset[Long], expectedInsertions: Long,
      fpp: Double): graft.core.BloomFilter = {
    val proto = graft.core.Bloom.create(expectedInsertions, fpp)
    val (nb, nh) = (proto.numBits, proto.numHashes)
    val words = (nb + 63) >>> 6
    val bitArrays = keys.mapPartitions { it =>
      val bf = graft.core.Bloom.wrap(nb, nh, new Array[Long](words))
      it.foreach(bf.put)
      Iterator.single(bf.bits)
    }(keys.sparkSession.implicits.newLongArrayEncoder)
    val or = (a: Array[Long], b: Array[Long]) => {
      var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a
    }
    val rdd = bitArrays.rdd
    val merged =
      if (rdd.getNumPartitions == 0) new Array[Long](words)
      else rdd.treeReduce(or, depth = 2)
    graft.core.Bloom.wrap(nb, nh, merged)
  }

  /** Frequent-condition pruning via a broadcast Bloom filter instead of an
    * exact broadcast semi-join — the reference's own design (its frequency
    * BFs are the semantics, SURVEY §5). False positives only ADMIT extra
    * instances; the exact capture-support filter downstream removes their
    * effect, so the final CIND set is identical (CindEngineSpec pins this).
    * This is the 100 TB path: a 10M-entry 1% filter is ~12 MB broadcast
    * regardless of string sizes, where the exact set might not fit. */
  def bloomPrunedCaptureInstances(triples: DataFrame, minSupport: Int,
      expectedConditions: Long = 10000000L,
      projections: String = "spo"): DataFrame = {
    import triples.sparkSession.implicits._
    val freqKeys = frequentConditionHashes(triples, minSupport).as[Long]
    val bf = buildBloomLongs(freqKeys, expectedConditions, 0.01)
    val bcast = triples.sparkSession.sparkContext.broadcast(bf)
    captureInstances(triples, projections)
      .filter(bloomContains(bcast,
        condHash(col("cond_code"), col("v1"), col("v2"))))
  }

  /** Membership filter column via the native codegen'd expression
    * (graft.functions.BloomMightContain): no UDF cliff -- the probe stays
    * inside whole-stage codegen (no boxing, no Option wrapper; long keys
    * skip the UTF8String->String conversion entirely) and the filter bits
    * ship once per executor through the broadcast. */
  private def bloomContains(
      bf: org.apache.spark.broadcast.Broadcast[graft.core.BloomFilter],
      key: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomMightContain(
        org.apache.spark.sql.graft.ColumnBridge.expression(key), bf))

  /** Captures with >= minSupport distinct values (their *support*), computed
    * exactly. Any capture below this bound can appear in no reported CIND —
    * pruning refs too empties hub join lines (reference
    * programs/RDFind.scala:348-400, `--find-frequent-captures`). One shuffle:
    * count_distinct plans as partial-dedup + final agg. */
  def frequentCaptures(instances: DataFrame, minSupport: Int): DataFrame =
    instances
      .groupBy("code", "v1", "v2")
      .agg(count_distinct(col("join_val")).as("support"))
      .filter(col("support") >= minSupport)

  /** Join lines: per distinct value, the set of (frequent) captures that
    * contain it. The frequent-capture set is bounded by vocabulary /
    * minSupport in practice but not in principle, so the semi-join carries
    * no broadcast hint — AQE broadcasts it at runtime when it fits.
    * Grouped by (xxhash64(join_val), join_val) — see [[hashPrefixed]]. */
  def joinLines(instances: DataFrame, frequentCaps: DataFrame): DataFrame =
    instances
      .join(frequentCaps.select("code", "v1", "v2"),
        Seq("code", "v1", "v2"), "left_semi")
      .withColumn("jh", xxhash64(col("join_val")))
      .groupBy("jh", "join_val")
      .agg(collect_set(struct(col("code"), col("v1"), col("v2"))).as("captures"))
      .drop("jh")

  /** Per join line, one evidence row per member capture: (dep, all
    * co-captures not trivially implied by dep, sorted). Rows with empty refs
    * are kept — they still count toward the dep's support. */
  def evidences(lines: DataFrame): Dataset[CindEvidence] = {
    import lines.sparkSession.implicits._
    lines
      .select(col("captures").as[Array[Capture]])
      .flatMap { caps =>
        val sorted = caps.sorted
        sorted.iterator.map { dep =>
          val refs = sorted.filter(c => !(c == dep) && !dep.implies(c))
          CindEvidence(dep, refs)
        }
      }
  }

  /** All CINDs (trivial implications excluded) with support >= minSupport.
    * Output columns: dep_code, dep_v1, dep_v2, ref_code, ref_v1, ref_v2,
    * support.
    *
    * Count-match formulation (the reference's own overlap==count trick,
    * plan/SmallToLargeTraversalStrategy.scala:63-105, generalized to all
    * arities): `dep ⊑ ref` iff the number of join lines containing BOTH
    * equals dep's support. The whole plan is relational — explode fan-outs,
    * hash aggregates, broadcast joins — so it runs inside whole-stage
    * codegen with map-side partial aggregation; no typed Aggregator and no
    * per-row JVM collections. The strategy-0 shape (`allCindsIntersect`,
    * typed-Aggregator k-way intersection) is kept as a first-class
    * alternative: on narrow-join-line data its per-dep ref arrays stay
    * short and it measures FASTER than the pair fan-out (19.6s vs 28.4s
    * at sf0.1, min-of-2); the count-match plan is the scale default
    * because its memory per aggregation buffer is O(1) — a packed-long
    * count — where the intersect buffer holds a ref ARRAY whose size is
    * unbounded on hub-heavy data. Frequent-capture pruning
    * (support >= minSupport on BOTH sides — sound because a reported ref's
    * value set contains its dep's, so its support is >= dep's) is what keeps
    * hub join lines narrow and the pair fan-out quadratic-safe.
    */
  /** The pruned, dictionary-encoded join lines shared by discovery and the
    * join-line statistics: returns (dict, lines, nDict) where dict is the
    * persisted frequent-capture dictionary (code, v1, v2, support, id),
    * lines is (join_val, ids ARRAY<LONG>), and nDict is the dictionary's
    * counted size — threaded to every downstream regime decision so the
    * whole strategy call makes exactly ONE broadcast-vs-partitioned choice
    * (r12 VERDICT: three independent dict.count() re-decisions could in
    * principle diverge if the conf changed mid-query). */
  /** Dictionary size above which the encode abandons the driver-collect +
    * broadcast-array regime for a shuffle equi-join (SURVEY §5
    * hard-part 5's partitioned fallback; the r11 sf10 soak measured the
    * engine leaving the broadcast regime past ~50M triples). Tunable per
    * session: `spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", n)`. */
  val DefaultDictEncodeMaxBroadcastRows = 2000000L

  private[cind] def dictEncodeMaxBroadcastRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cind.dictEncodeMaxBroadcastRows")
      .map(_.toLong).getOrElse(DefaultDictEncodeMaxBroadcastRows)

  /** Per-value capture count above which the FALLBACK regroup pre-salts a
    * join value across aggregation buffers (VERDICT r12 #2: a hot value
    * otherwise builds its whole id array in ONE collect_list buffer — the
    * single-row memory hazard of the shuffle-encode regime). Values past
    * the threshold split into ceil(n/threshold) salted sub-groups first
    * (each buffer bounded ≈ threshold longs), and only those few hot
    * values pay a second, tiny concat aggregation. Intersection/counting
    * downstream is order- and duplicate-insensitive, so results are
    * unchanged (spec-pinned). */
  val DefaultHotLineSaltThreshold = 1 << 16

  private[cind] def hotLineSaltThreshold(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.cind.hotLineSaltThreshold")
      .map(_.toInt).getOrElse(DefaultHotLineSaltThreshold)

  /** Regime decisions print to stderr only when asked (ADVICE r12: library
    * code must not emit unconditional stderr noise per invocation). */
  private[cind] def cindVerbose(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.cind.verbose").exists(_.toBoolean)

  /** A/B valve for the strategies' encoded-lines persist (VERDICT r13 #1:
    * the r13 persist shipped without one and sat on the path of the two
    * driver-regressed flagship queries). Values:
    *   - "always": persist + eager count in every strategy (r13 behavior);
    *   - "never":  never persist (each pair-fan-out arm recomputes the
    *     lines from the cached lines0/dedup relation);
    *   - "auto" (default): persist only when rebuilding the lines involves
    *     a SHUFFLE beyond the cached upstream — i.e. the salted-regroup
    *     shapes (shuffle-encode fallback, bloomCaptures), where the r13
    *     job profile measured the whole regroup subtree executing 4x. In
    *     the broadcast-map regime the lines are a pure map over the cached
    *     lines0 (BF probe + hash-map lookup per capture), so re-running
    *     that map per consumer is cheaper than writing + count-barriering
    *     a second full copy of the lines (measured this round, A/B table
    *     in OPTIMIZATION_r14.md). */
  private[cind] def persistEncodedLines(spark: SparkSession,
      autoDefault: Boolean): Boolean =
    spark.conf.getOption("spark.graft.cind.persistEncodedLines") match {
      case Some("always") => true
      case Some("never")  => false
      case _              => autoDefault
    }

  /** Dictionary size up to which the DIRECTIONAL evidence paths (hybrid
    * round 1/2, the s2l binary extractions) broadcast a dense id→support
    * array and drop refs with support(ref) < support(dep) MAP-SIDE, before
    * the evidence exchange. EXACT, not approximate: dep ⊑ ref needs
    * co-count(dep, ref) == support(dep), and co-count <= support(ref), so a
    * ref poorer than its dep can never certify (the same monotonicity that
    * justifies the reported-CIND support ordering above). Only DIRECTIONAL
    * emissions can use it — an unordered count-match pair key (pairKeys)
    * always has one feasible direction, so nothing is droppable there.
    * Cost: 8 B/capture on each executor ((id >> 1)-indexed longs), hence
    * its own valve; past it the prune is skipped (pure optimization). */
  val DefaultSupportPruneMaxIds = 16000000L

  private[cind] def supportPruneMaxIds(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cind.supportPruneMaxIds")
      .map(_.toLong).getOrElse(DefaultSupportPruneMaxIds)

  /** Dense (id >>> 1)-indexed id→support array for the monotonicity prune;
    * EMPTY (prune disabled) past [[supportPruneMaxIds]] or if any support
    * overflows the array's Long slots (cannot happen — supports are Longs —
    * but the empty-array convention also serves tests forcing it off). */
  private def supportArray(dict: DataFrame, nDict: Long): Array[Long] = {
    val spark = dict.sparkSession
    if (nDict > supportPruneMaxIds(spark)) Array.emptyLongArray
    else {
      // ids are ((i+1) << 1) | unaryBit with i < nDict (dictWithIds), so
      // (id >>> 1) ranges over [1, nDict] — slot 0 stays unused
      val arr = new Array[Long](nDict.toInt + 1)
      dict.select(col("id"), col("support")).collect()
        .foreach(r => arr((r.getLong(0) >>> 1).toInt) = r.getLong(1))
      arr
    }
  }

  /** MEASURED NEGATIVE (r13, BASELINE.md): grouping the line-formation
    * exchange over 8-byte xxhash64 capture keys (strings re-attached at
    * dictionary scale by a second instance pass) left the 23.8 GB sf5 max
    * stage UNCHANGED — that stage is the pair/evidence exchange, whose
    * bytes are set by co-occurrence cardinality, not row format — while
    * the extra ~1B-row string-dedup pass DOUBLED wall (1271.6 s vs
    * 623.0 s, identical 8,749,727 rows). LZ4 already crushes the repeated
    * URI strings in the one line-formation exchange, so the struct shape
    * below stays; the evidence exchange is attacked where the bytes are
    * (see [[IntersectHybridCandidates]]' packed buffers).
    */

  /** Salted two-phase regroup of (join_val, id, nsalt) rows into
    * (join_val, ids): phase 1 groups by (join_val, salt) with every
    * aggregation buffer bounded ≈ the salt threshold; phase 2 concatenates
    * ONLY the salted (hot) values' parts — buffer count there is the hot
    * value count, never the value vocabulary. The narrow branch and the
    * hot branch read the SAME phase-1 exchange (Spark reuses the identical
    * exchange subtree), so the stream shuffles once. */
  private def saltedLines(tagged: DataFrame): DataFrame = {
    val phase1 = tagged
      .withColumn("salt", pmod(hash(col("id")), col("nsalt")))
      .withColumn("jh", xxhash64(col("join_val")))
      .groupBy(col("jh"), col("join_val"), col("nsalt"), col("salt"))
      .agg(collect_list(col("id")).as("part"))
    phase1.filter(col("nsalt") === 1)
      .select(col("join_val"), col("part").as("ids"))
      .unionAll(phase1.filter(col("nsalt") > 1)
        .groupBy("jh", "join_val")
        .agg(flatten(collect_list(col("part"))).as("ids"))
        .select(col("join_val"), col("ids")))
  }

  /** [[saltedLines]] when per-value sizes are not already known from a
    * cached array column: one extra combinable count-by-key exchange
    * derives nsalt — the valve's price in the two-pass (bloomCaptures)
    * shape. */
  private def boundedRegroupCounted(rows: DataFrame, hot: Int): DataFrame = {
    val counts = rows.groupBy("join_val").agg(count(lit(1)).as("n_"))
    saltedLines(rows.join(counts, "join_val")
      .select(col("join_val"), col("id"),
        (floor((col("n_") - 1) / lit(hot)) + 1).cast("int").as("nsalt")))
  }

  private[cind] def encodedJoinLines(triples: DataFrame, minSupport: Int,
      bloomConditions: Boolean = false,
      arRules: Option[DataFrame] = None,
      bloomCaptures: Boolean = false,
      expectedCaptures: Long = 10000000L,
      projections: String = "spo"): EncodedLines = {
    // 1. Condition-frequency pruning first (reference FrequentConditionPlanner
    //    order): a cheap map-side-combinable count that typically halves the
    //    instance stream before anything expensive runs. Bloom mode swaps
    //    the exact broadcast set for a fixed-size filter (100 TB path).
    val pruned0 =
      if (bloomConditions) bloomPrunedCaptureInstances(triples, minSupport, expectedCaptures, projections)
      else prunedCaptureInstances(triples, minSupport, projections)
    // 1b. Association-rule fan-out pruning (reference CreateJoinPartners
    //     .scala:100,117,134 + :183-196): a binary condition that merges a
    //     confidence-1.0 rule's antecedent and consequent produces captures
    //     IDENTICAL to the antecedent-only unary capture, so its instances
    //     are redundant. One broadcast anti-join on (cond_code, v1, v2);
    //     unary instances (cond codes 1/2/4) can never match a rule
    //     condition (codes 3/5/6) and pass through untouched.
    val pruned = arRules match {
      case Some(rules) =>
        pruned0.join(broadcast(arImpliedConditions(rules)),
          Seq("cond_code", "v1", "v2"), "left_anti")
      case None => pruned0
    }
    val spark = triples.sparkSession
    import spark.implicits._
    def logRegime(nDict: Long): Unit =
      if (cindVerbose(spark))
        System.err.println(s"graft.cind: dict=$nDict captures, encode=" +
          (if (nDict <= dictEncodeMaxBroadcastRows(spark)) "broadcast-map"
           else "shuffle-join"))
    // frequent-capture membership BF over [[condHash]] keys, built at
    // dictionary scale: the shuffle-encode fallback probes it MAP-SIDE so
    // infrequent captures never reach the encode join's exchange (VERDICT
    // r12 #3; the bloomCaptures path has always pre-filtered this way).
    // False positives only ADMIT extra rows; the inner dict join drops them.
    def freqCaptureBF(grouped: DataFrame)
        : org.apache.spark.broadcast.Broadcast[graft.core.BloomFilter] =
      spark.sparkContext.broadcast(buildBloomLongs(
        grouped.select(condHash(col("code"), col("v1"), col("v2")).as("k")).as[Long],
        expectedCaptures, 0.01))
    if (!bloomCaptures) {
      // 2. ONE full-data shuffle: group instances by join value directly,
      //    with a partial-aggregating collect_set — the map side dedups
      //    (capture, join value) duplicates while it combines, so the old
      //    shape's separate dropDuplicates shuffle and the re-group of the
      //    encoded stream into lines both disappear. Caveat at scale: each
      //    aggregation buffer holds one join value's distinct
      //    condition-frequent captures; for adversarial hub values use
      //    bloomCaptures=true, which keeps the two-pass shape below.
      // grouped by (xxhash64(join_val), join_val): grouping-identical — the
      // hash is functionally dependent on the value — but the
      // ObjectHashAggregate ALWAYS falls back to sort-based merge past 128
      // groups, and its sort's 8-byte prefix then reads the leading hash
      // column instead of the first 8 chars of join_val. The fixture's
      // values share long prefixes ("order:", "lineitem:"), so the string
      // prefix discriminates nothing and every comparison fell through to
      // a full string compare; the hash prefix resolves almost all of them
      // (r13 A/B: the isolated line-formation subquery reads ~13% less CPU,
      // Exp1). This is the measured max stage of every CIND strategy at
      // sf5/sf10, where the same sort dominates.
      val lines0 = pruned.withColumn("jh", xxhash64(col("join_val")))
        .groupBy("jh", "join_val")
        .agg(collect_set(struct(col("code"), col("v1"), col("v2"))).as("caps"))
        .drop("jh")
        .persist()
      // no eager count: the next reader is dictWithIds' runJob size probe,
      // ONE sequential job that fills this cache on the way, so nothing
      // later races an unfilled cache. The persisted `dict` is filled by
      // the dictionary collect in the broadcast regime, and by the first
      // lines job in the shuffle regime. A strategy's lines.count() runs
      // only when its persist valve (persistEncodedLines) resolves true.
      // 3. Capture supports from the cached lines: each line is one DISTINCT
      //    join value, so explode+count == count_distinct(join_val).
      val grouped = lines0.select(explode(col("caps")).as("c"))
        .groupBy(col("c.code").as("code"), col("c.v1").as("v1"), col("c.v2").as("v2"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport)
      val (dict, nDict) = dictWithIds(spark, grouped)
      logRegime(nDict)
      // 4. Map-side encode when the dictionary fits the broadcast regime:
      //    it ships once per executor as a broadcast hash map, and the
      //    native dict_encode_ids expression rewrites each line's capture
      //    array to frequent-capture ids in place. The grouped lines never
      //    re-shuffle; lines reduced to zero frequent captures drop out
      //    (they fed neither pairs nor the histogram before either).
      //    SCALE VALVE (SURVEY §5 hard-part 5, forced by the r11 sf10
      //    broadcast-regime finding): past dictEncodeMaxBroadcastRows the
      //    driver-side collect + executor hash maps are the first thing to
      //    die, so the encode falls back to a shuffle equi-join — explode
      //    the cached lines' capture arrays, BF-drop infrequent captures
      //    MAP-SIDE before the exchange (VERDICT r12 #3: the old fallback
      //    joined the full exploded stream), inner-join the dict on the
      //    capture key (join misses drop BF false positives exactly as the
      //    map miss dropped them), and regroup by join value through the
      //    salted bounded regroup (VERDICT r12 #2) — nsalt rides the
      //    explode for free from the cached array sizes. Two exchanges
      //    instead of zero, but every structure stays partitioned.
      val lines =
        if (nDict <= dictEncodeMaxBroadcastRows(spark)) {
          val dictMap = new java.util.HashMap[String, java.lang.Long]()
          dict.select("code", "v1", "v2", "id").collect().foreach { r =>
            dictMap.put(graft.functions.DictEncodeIds.key(
              r.getInt(0), r.getString(1), r.getString(2)), r.getLong(3))
          }
          val bcast = spark.sparkContext.broadcast(dictMap)
          val encoded = org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.DictEncodeIds(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("caps")), bcast))
          lines0.select(col("join_val"), encoded.as("ids"))
            .filter(size(col("ids")) > 0)
        } else {
          val bf = freqCaptureBF(grouped)
          val hot = hotLineSaltThreshold(spark)
          saltedLines(lines0
            .select(col("join_val"),
              (floor((size(col("caps")) - 1) / lit(hot)) + 1).cast("int").as("nsalt"),
              explode(col("caps")).as("c"))
            .select(col("join_val"), col("nsalt"), col("c.code"), col("c.v1"), col("c.v2"))
            .filter(bloomContains(bf, condHash(col("code"), col("v1"), col("v2"))))
            .join(dict.select("code", "v1", "v2", "id"), Seq("code", "v1", "v2"))
            .select(col("join_val"), col("id"), col("nsalt")))
        }
      // mapOnly: in the broadcast regime the lines are a pure map over the
      // cached lines0 (no shuffle to recompute); the fallback regroup
      // shuffles. internal caches released by the strategy's cacheResult.
      EncodedLines(dict, lines, nDict,
        linesMapOnly = nDict <= dictEncodeMaxBroadcastRows(spark),
        internal = Seq(lines0, dict))
    } else {
      // bloomCaptures — the reference's `--find-frequent-captures` valve
      // (programs/RDFind.scala:376-399: pack frequent captures into a BF)
      // and this engine's skew valve: the two-pass shape never materializes
      // a per-value capture SET before the frequency filter, so hub join
      // values with huge distinct-capture sets stay row-shaped. Pass 1:
      // dedup shuffle + capture supports; pass 2: BF drops
      // infrequent-capture instances MAP-SIDE, the survivors encode
      // MAP-SIDE through the same dict_encode_ids broadcast hash map the
      // exact path uses (an encode JOIN here shuffled the full deduped
      // instance stream twice — ~180 MB of map writes at sf0.1 — for a
      // dictionary that ships everywhere else as a broadcast anyway), and
      // lines re-group from ids through the salted bounded regroup
      // (VERDICT r12 #2). BF false positives only let extra instances
      // reach the encode, where the dictionary-map miss drops them —
      // results identical.
      val dedup = pruned.dropDuplicates("code", "v1", "v2", "join_val").persist()
      val grouped = dedup.groupBy("code", "v1", "v2")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSupport)
      val (dict, nDict) = dictWithIds(spark, grouped)
      logRegime(nDict)
      val bfBcast = freqCaptureBF(grouped)
      val keyOf = condHash(col("code"), col("v1"), col("v2"))
      val toEncode = dedup.filter(bloomContains(bfBcast, keyOf))
      // same scale valve as the exact path: map-side hash-map encode in
      // the broadcast regime, shuffle equi-join encode past it (the BF
      // already dropped almost every infrequent instance map-side, so the
      // join input is the frequent stream either way; join misses play
      // the dictionary-map-miss role for BF false positives)
      val ided =
        if (nDict <= dictEncodeMaxBroadcastRows(spark)) {
          val dictMap = new java.util.HashMap[String, java.lang.Long]()
          dict.select("code", "v1", "v2", "id").collect().foreach { r =>
            dictMap.put(graft.functions.DictEncodeIds.key(
              r.getInt(0), r.getString(1), r.getString(2)), r.getLong(3))
          }
          val mapBcast = spark.sparkContext.broadcast(dictMap)
          val encoded = org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.DictEncodeIds(
              org.apache.spark.sql.graft.ColumnBridge.expression(
                array(struct(col("code"), col("v1"), col("v2")))), mapBcast))
          toEncode.select(col("join_val"), explode(encoded).as("id"))
        } else
          toEncode.join(dict.select("code", "v1", "v2", "id"),
              Seq("code", "v1", "v2"))
            .select(col("join_val"), col("id"))
      // inputs are already (capture, value)-distinct; per-value sizes are
      // unknown in this row shape, so the bounded regroup derives them
      // with one combinable count-by-key pass (the hot-buffer valve's
      // price — VERDICT r12 #2)
      val lines = boundedRegroupCounted(ided, hotLineSaltThreshold(spark))
      // the regroup always shuffles, so the lines are never map-only here
      EncodedLines(dict, lines, nDict, linesMapOnly = false,
        internal = Seq(dedup, dict))
    }
  }

  /** Dictionary of frequent captures with deterministic dense int IDs —
    * small, broadcast both to encode instances and to decode results. The
    * quadratic pair fan-out then runs over packed longs instead of 6-column
    * string tuples (the reference's ConditionCompressor idea, Spark-style).
    *
    * Dense IDs via zipWithIndex, NOT row_number over a global window: the
    * unpartitioned window funnels every frequent capture through a single
    * task (the 100 TB killer). zipWithIndex numbers partitions in place
    * after one tiny partition-size job; IDs only need distinctness and
    * < 2^31 (they feed the packed-long pair key), not global order.
    * The low bit tags unary captures so arity predicates evaluate on the
    * encoded id arrays MAP-SIDE (no decode join before a fan-out filter).
    * Persisted: downstream plans reference the dict from several broadcast
    * exchanges, which Spark computes eagerly on parallel threads — with a
    * lazy cache each would recompute the whole lineage; the first consumer
    * (the encode collect in the broadcast regime, the strategy's lines job
    * past it) fills the cache.
    *
    * Returns (dict, nDict): ONE partition-size job both numbers the ids
    * (replacing zipWithIndex's internal size probe — same offsets, so the
    * assigned ids are bit-identical) and counts the dictionary (replacing
    * the caller's separate eager `dict.count()` barrier). VERDICT r13 #3:
    * the strategies' driver-side serial fraction was three sequential
    * jobs here (probe, count, collect) — now two. */
  private def dictWithIds(spark: SparkSession, grouped: DataFrame): (DataFrame, Long) = {
    val rdd = grouped.rdd
    val sizes = spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.Row]) => {
        var n = 0L; while (it.hasNext) { it.next(); n += 1L }; n
      })
    val nDict = sizes.sum
    val offsets = sizes.scanLeft(0L)(_ + _)
    val withIds = rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = offsets(pi)
      it.map { r =>
        val unaryBit = if (Integer.bitCount(r.getInt(0) & 7) == 1) 1L else 0L
        i += 1L
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ((i << 1) | unaryBit))
      }
    }
    val dict = spark.createDataFrame(withIds,
      grouped.schema.add("id", org.apache.spark.sql.types.LongType, nullable = false))
      .persist()
    (dict, nDict)
  }

  /** Histogram of join-line widths after pruning (reference `--create-join-
    * histogram`, programs/RDFind.scala:449-452 + AnnotateJoinLineSizes):
    * (n_captures, n_lines). */
  def joinLineHistogram(triples: DataFrame, minSupport: Int = DefaultMinSupport): DataFrame = {
    val enc = encodedJoinLines(triples, minSupport)
    // the lines are read exactly once — no persist; cacheResult releases
    // the encode's internal caches (lines0, dict) once the compact
    // histogram is materialized (they leaked here before r14)
    val hist = enc.lines.select(size(col("ids")).as("n_captures"))
      .groupBy("n_captures").agg(count(lit(1)).as("n_lines"))
    graft.core.CacheOps.cacheResult(hist, enc.internal)
  }

  /** Width beyond which a join line's pair emission is sliced across tasks
    * (reference AssignJoinLineRebalancing, operators/AssignJoinLine
    * Rebalancing.scala:16-71): hub lines otherwise serialize one task on
    * O(w^2) work. Each slice re-emits the full ids array with a dep
    * sub-range; `pairKeys` notes where the slices run. Results are
    * identical with or without splitting (co-occurrence counting is
    * emission-order-insensitive). */
  val SplitThreshold = 1024

  /** Directed co-occurrence counts over encoded join lines:
    * (dep_id, ref_id, n) where n = number of join lines containing both.
    * Counts are direction-symmetric, so each unordered pair is emitted once
    * (halving the quadratic fan-out) and expanded to both directions after
    * aggregation. Wide lines are sliced first (skew split), narrow lines
    * emit directly. This relation IS the reference's OverlapSet
    * (data/OverlapSet.scala, built by MultiunionOverlapCandidates):
    * overlap(dep, ref) = n. */
  /** Unordered-pair key stream: one packed long `pk = dep<<32 | ref`
    * (dep < ref) per (capture pair, join line) co-occurrence, skew-split. */
  private def pairKeys(lines: DataFrame, splitThreshold: Int): DataFrame = {
    val narrow = lines.filter(size(col("ids")) <= splitThreshold)
      .select(explode(col("ids")).as("dep"), col("ids"))
    val wide = lines.filter(size(col("ids")) > splitThreshold)
      .select(col("ids"), explode(sequence(lit(0),
        floor((size(col("ids")) - 1) / lit(splitThreshold)).cast("int"))).as("slice"))
      // unnumbered, so AQE coalesces it: on a small input every hub slice
      // lands in ONE task (hub-cind seed 42, local[4]: 1409 ms against
      // 268-311 ms per narrow task). A numbered round-robin splits that
      // task but spreads a dep range's pairs over tasks and grows the
      // pair shuffle (ROADMAP direction B)
      .repartition()
      .select(explode(slice(col("ids"), col("slice") * splitThreshold + 1,
        lit(splitThreshold))).as("dep"), col("ids"))
    narrow.unionAll(wide)
      .select(col("dep"), explode(col("ids")).as("ref"))
      .filter(col("dep") < col("ref"))
      .select((shiftleft(col("dep"), 32) + col("ref")).as("pk"))
  }

  /** Aggregate unordered pair keys and expand to both directions. */
  private def expandCounts(keys: DataFrame): DataFrame =
    keys
      .groupBy("pk").agg(count(lit(1)).as("n"))
      .select(explode(array(
        struct(shiftright(col("pk"), 32).as("dep_id"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("ref_id")),
        struct(col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("dep_id"),
          shiftright(col("pk"), 32).as("ref_id")))).as("p"), col("n"))
      .select(col("p.dep_id"), col("p.ref_id"), col("n"))

  private def overlapCounts(lines: DataFrame, splitThreshold: Int): DataFrame =
    expandCounts(pairKeys(lines, splitThreshold))

  /** Unary-unary capture overlaps with their co-occurrence counts
    * (reference CreateUnaryUnaryOverlapCandidates +
    * MultiunionOverlapCandidates; the dep side carries its support so
    * `overlap == support` identifies 1/1 CINDs, reference
    * plan/SmallToLargeTraversalStrategy.scala:63-105). Output:
    * (dep_code, dep_v1, ref_code, ref_v1, overlap, dep_support). */
  def unaryOverlaps(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      sketch: Boolean = true, expectedPairs: Long = 4000000L): DataFrame = {
    val enc = encodedJoinLines(triples, minSupport)
    val (dict, nDict) = (enc.dict, enc.nDict)
    // arity filter BEFORE the quadratic fan-out: the unary bit rides the
    // encoded ids, so binary captures drop out of the lines map-side
    // (roughly halving pair volume) instead of post-aggregation at decode
    val unaryLines = enc.lines.select(col("join_val"),
      filter(col("ids"), id => id.bitwiseAND(lit(1L)) === 1L).as("ids"))
      .filter(size(col("ids")) > 1)
    val internal = Seq.newBuilder[Dataset[_]]
    val keys =
      if (!sketch) pairKeys(unaryLines, SplitThreshold)
      else {
        // overlap-side sketch (reference E4/E5/A4/G6, the strategy-1 scale
        // valve): prune the pair-key stream before its shuffle so the
        // materialized overlap relation stays proportional to the frequent
        // candidates, not to every co-occurrence
        val cached = unaryLines.persist()
        cached.count() // sketch pass + count pass both read the lines
        internal += cached
        val raw = pairKeys(cached, SplitThreshold)
        sketchPrunedKeys(raw, minSupport, expectedPairs)
      }
    val unary = dict.filter(col("v2") === "")
    val depSide = unary.select(col("id").as("dep_id"), col("code").as("dep_code"),
      col("v1").as("dep_v1"), col("support").as("dep_support"))
    val refSide = unary.select(col("id").as("ref_id"), col("code").as("ref_code"),
      col("v1").as("ref_v1"))
    // size-conditional dict hints, the decodeCinds policy: forced
    // broadcast inside the regime (measured faster than the unhinted
    // plan), plain partitioned joins past it (a forced hint there is the
    // first thing to die at 100x)
    val inRegime =
      nDict <= dictEncodeMaxBroadcastRows(triples.sparkSession)
    def hinted(side: DataFrame) = if (inRegime) broadcast(side) else side
    val out = expandCounts(keys)
      // overlaps below minSupport can never certify a CIND nor survive the
      // reference's candidate filters — dropping them pre-decode keeps the
      // materialized relation proportional to the useful candidates
      .filter(col("n") >= minSupport)
      .join(hinted(depSide), "dep_id")
      .join(hinted(refSide), "ref_id")
      .select(col("dep_code"), col("dep_v1"), col("ref_code"), col("ref_v1"),
        col("n").as("overlap"), col("dep_support"))
    graft.core.CacheOps.cacheResult(out, internal.result() ++ enc.internal)
  }

  /** Decode directed counts into CIND rows: keep pairs whose co-count
    * equals the dep's support, drop trivially-implied refs, resolve IDs.
    *
    * SIZE-CONDITIONAL shape (the encode valve's twin, both regimes
    * measured at the r12 sf5 soak): below dictEncodeMaxBroadcastRows the
    * dict sides carry explicit broadcast hints — the regime every bench
    * query lives in, and forcing it beat the unhinted plan by ~1.4x wall
    * at sf5 (623-vs-900 s class readings; AQE alone will not broadcast a
    * 3M-row dict past autoBroadcastJoinThreshold). Past the threshold no
    * hint is forced and the decode goes partitioned decode-LAST: a
    * map-side support floor (a co-count below minSupport can never equal
    * a support >= minSupport), the survival decision against a NARROW
    * (dep_id, support) two-long projection, and the string columns
    * attached only to the surviving final CIND set. The support floor is
    * a strict win and applies in both regimes. */
  private def decodeCinds(dict: DataFrame, counts: DataFrame,
      minSupport: Int, nDict: Long): Dataset[CindRow] = {
    import dict.sparkSession.implicits._
    val spark = dict.sparkSession
    val floored = counts.filter(col("n") >= minSupport)
    val refSide = dict.select(col("id").as("ref_id"), col("code").as("ref_code"),
      col("v1").as("ref_v1"), col("v2").as("ref_v2"))
    val kept =
      if (nDict <= dictEncodeMaxBroadcastRows(spark)) {
        val depSide = dict.select(col("id").as("dep_id"),
          col("code").as("dep_code"), col("v1").as("dep_v1"),
          col("v2").as("dep_v2"), col("support"))
        floored
          .join(broadcast(depSide), "dep_id")
          .filter(col("n") === col("support")) // dep ⊑ ref iff co-count == support
          .join(broadcast(refSide), "ref_id")
      } else {
        val sup = dict.select(col("id").as("dep_id"), col("support"))
        val depSide = dict.select(col("id").as("dep_id"),
          col("code").as("dep_code"), col("v1").as("dep_v1"),
          col("v2").as("dep_v2"))
        floored
          .join(sup, "dep_id")
          .filter(col("n") === col("support"))
          .join(depSide, "dep_id")
          .join(refSide, "ref_id")
      }
    kept
      // drop refs trivially implied by a binary dep (its own unary subs) —
      // sound post-aggregation: it only removes output rows, never counts
      .filter(!(col("ref_v2") === "" &&
        ((firstSubCode(col("dep_code")) === col("ref_code") && col("dep_v1") === col("ref_v1")) ||
         (secondSubCode(col("dep_code")) === col("ref_code") && col("dep_v2") === col("ref_v1")))))
      .select(col("dep_code"), col("dep_v1"), col("dep_v2"),
        col("ref_code"), col("ref_v1"), col("ref_v2"), col("support"))
      .as[CindRow]
  }

  def allCinds(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      splitThreshold: Int = SplitThreshold,
      bloomConditions: Boolean = false,
      bloomCaptures: Boolean = false,
      expectedFrequentKeys: Long = 10000000L,
      projections: String = "spo",
      arRules: Option[DataFrame] = None): Dataset[CindRow] = {
    // expectedFrequentKeys sizes BOTH Bloom paths (reference rule:
    // estimated triples / minSupport, FrequentConditionPlanner.scala:34-38)
    val enc = encodedJoinLines(triples, minSupport, bloomConditions,
      arRules = arRules,
      bloomCaptures = bloomCaptures, expectedCaptures = expectedFrequentKeys,
      projections = projections)
    // persist the encoded lines before the pair fan-out IFF recomputing
    // them shuffles (the salted regroup shapes): pairKeys' narrow and wide
    // branches are UNION arms whose differing pushed-down projections
    // defeat exchange reuse, so an unpersisted lines relation is computed
    // once per branch — the r13 job profile showed the whole regroup
    // subtree EXECUTING 4x in parallel there (saltedLines' two arms x
    // pairKeys' two arms). In the broadcast-map regime the lines are a
    // pure map over the cached lines0, and re-running that map per branch
    // measures CHEAPER than writing + count-barriering a second full copy
    // of the lines (r14 valve A/B, OPTIMIZATION_r14.md). The valve
    // (spark.graft.cind.persistEncodedLines) forces either regime.
    val doPersist = persistEncodedLines(triples.sparkSession,
      autoDefault = !enc.linesMapOnly)
    val lines = if (doPersist) { val l = enc.lines.persist(); l.count(); l }
                else enc.lines
    val cinds = decodeCinds(enc.dict, overlapCounts(lines, splitThreshold),
      minSupport, enc.nDict)
    val out = arRules.fold(cinds)(rules => arImpliedCindFilter(cinds.toDF(), rules))
    graft.core.CacheOps.cacheResult(out,
      (if (doPersist) Seq(lines) else Nil) ++ enc.internal)
  }

  /** A rule's merged binary condition as (cond_code, v1, v2), values ordered
    * by attribute code (reference CreateJoinPartners.scala:183-196). */
  private def arImpliedConditions(rules: DataFrame): DataFrame =
    rules.select(
      col("ante_code").bitwiseOR(col("cons_code")).as("cond_code"),
      when(col("ante_code") < col("cons_code"), col("ante_val"))
        .otherwise(col("cons_val")).as("v1"),
      when(col("ante_code") < col("cons_code"), col("cons_val"))
        .otherwise(col("ante_val")).as("v2"))
      .distinct()

  /** Discovery with association-rule pruning — the reference program's
    * DEFAULT semantics (`--use-frequent-item-sets`, programs/RDFind
    * .scala:333-346):
    *
    *   1. fan-out: binary conditions merging a rule's antecedent+consequent
    *      are dropped (their captures duplicate the antecedent's unary
    *      capture) — see [[encodedJoinLines]];
    *   2. output: 1/1 CINDs `proj[ante] ⊑ proj[cons]` directly implied by a
    *      rule are filtered (reference operators/
    *      FilterAssociationRuleImpliedCinds.scala:17-58: projection attribute
    *      = the one attribute neither side conditions on).
    *
    * Both prunings only REMOVE redundant output rows; every surviving CIND
    * is identical to its `allCinds` counterpart (same support). */
  def allCindsPruned(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      splitThreshold: Int = SplitThreshold): Dataset[CindRow] = {
    val rules = preparedRules(triples, minSupport)
    val out = allCinds(triples, minSupport, splitThreshold, arRules = Some(rules))
    graft.core.CacheOps.cacheResult(out, Seq(rules))
  }

  /** Association rules persisted for the two places every AR-pruned
    * strategy consumes them (the fan-out anti-join and the output filter).
    * [[associationRules]] already returns its result persisted and
    * materialized (CacheOps contract), so this is now an alias kept for
    * call-site clarity; the caller owns the one cached handle. */
  def preparedRules(triples: DataFrame, minSupport: Int): DataFrame =
    associationRules(triples, minSupport)

  /** Output-side AR pruning shared by all strategies: drop 1/1 CINDs
    * `proj[ante] ⊑ proj[cons]` directly implied by a confidence-1.0 rule
    * (reference operators/FilterAssociationRuleImpliedCinds.scala:17-58:
    * the projection attribute is the one attribute neither side conditions
    * on; capture code = attr bits + projection bits << 3). */
  private def arImpliedCindFilter(cinds: DataFrame, rules: DataFrame): Dataset[CindRow] = {
    import cinds.sparkSession.implicits._
    val proj = shiftleft(lit(7) - col("ante_code") - col("cons_code"), 3)
    val implied = rules.select(
      (col("ante_code") + proj).as("i_dep_code"), col("ante_val").as("i_dep_v1"),
      (col("cons_code") + proj).as("i_ref_code"), col("cons_val").as("i_ref_v1"))
    cinds.join(broadcast(implied),
      col("dep_code") === col("i_dep_code") && col("dep_v1") === col("i_dep_v1") &&
        col("ref_code") === col("i_ref_code") && col("ref_v1") === col("i_ref_v1") &&
        col("dep_v2") === "" && col("ref_v2") === "",
      "left_anti").as[CindRow]
  }

  /** Two-round half-approximate discovery (reference strategies 2/3,
    * plan/ApproximateAllAtOnceTraversalStrategy.scala:27-114 +
    * LateBBTraversalStrategy.scala:24-123, re-expressed for the count-match
    * plan):
    *
    *   round 1 — stream the unordered pair keys through per-partition
    *     SPECTRAL Bloom filters (saturating counting sketch, cell width from
    *     minSupport as in the reference), merge cell-wise, collapse with
    *     `toBloomFilter(minSupport)` (the reference's own G6 move) and
    *     broadcast. No shuffle: the sketch rides the map side.
    *   round 2 — re-emit pair keys, keep only keys the filter admits, run
    *     the exact count-match on the survivors.
    *
    * A CIND pair co-occurs >= minSupport times and the sketch never
    * under-counts (cell saturation caps at >= minSupport by construction),
    * so pruning admits every true pair: the result is EXACTLY allCinds
    * (spec-pinned). What the sketch buys at scale: the round-2 shuffle
    * carries only plausible candidates instead of every co-occurrence —
    * the same memory/volume bound the reference bought with its
    * half-approximate CindSets, paid with a second map pass instead of a
    * second extraction job.
    *
    * `expectedPairs` sizes the sketch (fixed-size broadcast); undersizing
    * only weakens pruning, never correctness.
    */
  def allCindsTwoRound(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      expectedPairs: Long = 4000000L,
      splitThreshold: Int = SplitThreshold,
      bloomConditions: Boolean = false,
      bloomCaptures: Boolean = false,
      expectedFrequentKeys: Long = 10000000L,
      projections: String = "spo",
      arRules: Option[DataFrame] = None): Dataset[CindRow] = {
    val enc = encodedJoinLines(triples, minSupport, bloomConditions,
      arRules = arRules, bloomCaptures = bloomCaptures,
      expectedCaptures = expectedFrequentKeys, projections = projections)
    // both rounds re-run the FULL O(w^2) pair explode over the lines
    // (sketch build + exact recount), so unlike the other strategies the
    // persist pays for itself even in the map-only broadcast regime —
    // r14 interleaved A/B: always 11.28 s / 127 cpu-s vs never 12.90 s /
    // 228 cpu-s (OPTIMIZATION_r14.md); valve still overrides
    val doPersist = persistEncodedLines(triples.sparkSession,
      autoDefault = true)
    val lines = if (doPersist) { val l = enc.lines.persist(); l.count(); l }
                else enc.lines
    val keys = pairKeys(lines, splitThreshold)
    val cinds = decodeCinds(enc.dict,
      expandCounts(sketchPrunedKeys(keys, minSupport, expectedPairs)), minSupport,
      enc.nDict)
    val out = arRules.fold(cinds)(rules => arImpliedCindFilter(cinds.toDF(), rules))
    graft.core.CacheOps.cacheResult(out,
      (if (doPersist) Seq(lines) else Nil) ++ enc.internal)
  }

  /** Spectral-sketch pruning of an unordered pair-key stream (the shared
    * round-1 of the half-approximate strategies; reference E4/E5 extract,
    * A4 merge, G6 `EvaluateHalfApproximateOverlapSets` collapse):
    *
    *   - per-partition SPECTRAL Bloom filters count the keys map-side (no
    *     shuffle; cell width derived from minSupport as in the reference),
    *   - cells tree-merge on executors,
    *   - the sketch collapses to a membership filter of keys with count >=
    *     minSupport (`toBloomFilter`, the reference's G6 move), broadcast,
    *   - only admitted keys pass to the exact aggregation.
    *
    * Saturating counters never under-count, so every key with true count >=
    * minSupport is admitted — downstream exact filters see no change; the
    * shuffle just carries plausible candidates instead of every
    * co-occurrence. Undersizing `expectedPairs` only weakens pruning. */
  private def sketchPrunedKeys(keys: DataFrame, minSupport: Int,
      expectedPairs: Long): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val proto = graft.core.SpectralBloomFilter.create(expectedPairs, 0.1, minSupport)
    val (nc, bpc, nh, words) = (proto.numCells, proto.bitsPerCell, proto.numHashes, proto.cells.length)
    val cellArrays = keys.select(col("pk")).as[Long].mapPartitions { it =>
      val s = new graft.core.SpectralBloomFilter(nc, bpc, nh, new Array[Long](words))
      it.foreach(s.add) // long-key path: no per-key String allocation
      Iterator.single(s.cells)
    }(spark.implicits.newLongArrayEncoder)
    // executor-side tree merge (see buildBloom): cell arrays are MBs each,
    // funnelling them all through the driver is the scale bottleneck; and
    // treeReduce (not treeAggregate) so the MB-sized zero array is not
    // serialized into every task closure
    val mergeCells = (a: Array[Long], b: Array[Long]) =>
      new graft.core.SpectralBloomFilter(nc, bpc, nh, a)
        .mergeInPlace(new graft.core.SpectralBloomFilter(nc, bpc, nh, b)).cells
    val rdd = cellArrays.rdd
    val merged =
      if (rdd.getNumPartitions == 0) new Array[Long](words)
      else rdd.treeReduce(mergeCells, depth = 2)
    val candidateFilter = new graft.core.SpectralBloomFilter(nc, bpc, nh, merged)
      .toBloomFilter(minSupport)
    val bcast = spark.sparkContext.broadcast(candidateFilter)
    keys.filter(bloomContains(bcast, col("pk")))
  }

  /** Refs arrays longer than this spill to Bloom-filter bits in the hybrid
    * strategy (reference `--merge-window-size` territory: the explicit
    * threshold at which exact per-evidence state becomes sketch state). */
  val HybridSpillThreshold = 64

  /** Single-pass hybrid exact/Bloom intersection — the literal shape of the
    * reference's half-approximate merge (candidate_merging/
    * IntersectHalfApproximateCindCandidates.scala:16-109 over
    * CreateHalfApproximateCindCandidates): each join line contributes, per
    * dependent capture, either its EXACT co-occurring refs (narrow lines)
    * or a Bloom filter of them (wide lines, refs > spillThreshold — the
    * explicit-threshold spill bounding aggregation state the way the
    * reference bounded Flink combiner memory); ONE typed aggregation then
    * intersects exact arrays exactly and BF bits bitwise, in the same
    * buffer.
    *
    * Exactness recovery (the reference refines `!isExact` results in its
    * next round; same move here, restricted to the unsure deps):
    *   - deps whose every evidence was exact emit directly;
    *   - deps that saw any BF evidence get a SECOND exact pass over their
    *     lines with refs pre-filtered by the round-1 state (exact-part
    *     refs ∩ BF bits — a superset of the truth, so the exact
    *     re-intersection returns exactly the truth; Bloom false positives
    *     only widen the filtered arrays, never the result).
    *
    * Result-identical to [[allCinds]] (spec-pinned + driver oracle). Versus
    * [[allCindsTwoRound]] (sketch round + exact round over ALL deps), the
    * hybrid resolves narrow-line deps in round 1 and re-touches only deps
    * that met a hub line — the trade the reference's one-pass hybrid buffer
    * made. Round-2 driver state is dictionary-scale (the dictionary is
    * already collected for the encode broadcast), never data-scale. */
  def allCindsHybrid(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      spillThreshold: Int = HybridSpillThreshold,
      bloomConditions: Boolean = false,
      bloomCaptures: Boolean = false,
      expectedFrequentKeys: Long = 10000000L,
      projections: String = "spo",
      arRules: Option[DataFrame] = None): Dataset[CindRow] = {
    require(spillThreshold > 0, "spillThreshold must be positive")
    val spark = triples.sparkSession
    import spark.implicits._
    val enc = encodedJoinLines(triples, minSupport, bloomConditions,
      arRules = arRules, bloomCaptures = bloomCaptures,
      expectedCaptures = expectedFrequentKeys, projections = projections)
    val (dict, nDict) = (enc.dict, enc.nDict)
    // round 1 + round 2 both read the lines — same valve-adjudicated
    // persist rule as allCinds (map-only lines recompute cheaper)
    val doPersist = persistEncodedLines(spark, autoDefault = !enc.linesMapOnly)
    val lines = if (doPersist) { val l = enc.lines.persist(); l.count(); l }
                else enc.lines
    // ONE shared BF geometry: bitwise AND of filters is only meaningful
    // when every evidence uses the same (numBits, numHashes). Sized from
    // the spill threshold, not the data: a hub line saturates its filter
    // (admits everything) and degrades to the exact round-2 path for its
    // deps — graceful, never wrong.
    val proto = graft.core.Bloom.create(math.max(1024L, spillThreshold * 8L), 0.05)
    val (nb, nh) = (proto.numBits, proto.numHashes)
    val words = (nb + 63) >>> 6
    val spill = spillThreshold
    // support-monotonicity evidence prune (r13, see supportPruneMaxIds):
    // the narrow arm drops refs poorer than their dep BEFORE the evidence
    // exchange. A dep whose whole line prunes away still EMITS an
    // empty-refs exact evidence — reduce() treats it as an exact arm and
    // zeroes the intersection, which is the truth (no ref survives a line
    // where none is feasible... and none is, by monotonicity).
    val bcSup = spark.sparkContext.broadcast(supportArray(dict, nDict))
    val evid = lines.select(col("ids")).as[Array[Long]].flatMap { ids0 =>
      val ids = ids0.sorted
      val sup = bcSup.value
      if (ids.length - 1 <= spill) {
        // narrow: exact refs per dep (sorted by construction)
        Iterator.range(0, ids.length).map { d =>
          val sd = if (sup.length == 0) 0L else sup((ids(d) >>> 1).toInt)
          val refs = new Array[Long](ids.length - 1)
          var i = 0; var k = 0
          while (i < ids.length) {
            if (i != d && (sup.length == 0 || sup((ids(i) >>> 1).toInt) >= sd)) {
              refs(k) = ids(i); k += 1
            }
            i += 1
          }
          HybridEvidence(ids(d),
            if (k == refs.length) refs else java.util.Arrays.copyOf(refs, k),
            Array.emptyLongArray)
        }
      } else {
        // wide: ONE filter over the whole line, shared by all its deps —
        // O(w) insertions, not O(w^2). It admits dep itself as a ref; the
        // round-2 `r != dep` guard removes the only effect.
        val bf = graft.core.Bloom.wrap(nb, nh, new Array[Long](words))
        var i = 0; while (i < ids.length) { bf.put(ids(i)); i += 1 }
        ids.iterator.map(dep => HybridEvidence(dep, Array.emptyLongArray, bf.bits))
      }
    }
    val agged = evid.groupByKey(_.dep).agg(IntersectHybridCandidates.toColumn)
      .filter(_._2.count >= minSupport) // belt: dict deps satisfy this anyway
      .persist()
    agged.count() // exact split + unsure collect both read this
    val exactPairs = agged.flatMap { case (dep, s) =>
      if (!s.hasBits) s.refs.iterator.map(r => (dep, r))
      else Iterator.empty
    }.toDF("dep_id", "ref_id")
    // unsure deps -> driver: per dep either the BF-filtered exact candidate
    // array or (dep seen ONLY in wide lines) the intersected bits
    val exactCands = new java.util.HashMap[java.lang.Long, Array[Long]]()
    val bitsCands = new java.util.HashMap[java.lang.Long, Array[Long]]()
    agged.filter(_._2.hasBits).collect().foreach { case (dep, s) =>
      if (s.hasExact) {
        val bf = graft.core.Bloom.wrap(nb, nh, s.bits)
        exactCands.put(dep, s.refs.filter(bf.mightContain))
      } else bitsCands.put(dep, s.bits)
    }
    val bcExact = spark.sparkContext.broadcast(exactCands)
    val bcBits = spark.sparkContext.broadcast(bitsCands)
    val round2 = lines.select(col("ids")).as[Array[Long]].flatMap { ids0 =>
      val ids = ids0.sorted
      val exactM = bcExact.value
      val bitsM = bcBits.value
      val sup = bcSup.value
      ids.iterator.flatMap { dep =>
        val cand = exactM.get(dep)
        if (cand != null) {
          // cand came from round-1 intersections of already-pruned narrow
          // evidence, so the monotonicity prune is baked in — probe as-is
          Iterator.single(LongRefsEvidence(dep,
            ids.filter(r => r != dep && java.util.Arrays.binarySearch(cand, r) >= 0)))
        } else {
          val bits = bitsM.get(dep)
          if (bits != null) {
            // BF-only deps saw no exact arm: apply the monotonicity prune
            // here (the shared per-line filter could not — one filter
            // serves every dep of the line, each with a different floor)
            val sd = if (sup.length == 0) 0L else sup((dep >>> 1).toInt)
            val bf = graft.core.Bloom.wrap(nb, nh, bits)
            Iterator.single(LongRefsEvidence(dep,
              ids.filter(r => r != dep && bf.mightContain(r) &&
                (sup.length == 0 || sup((r >>> 1).toInt) >= sd))))
          } else Iterator.empty
        }
      }
    }
    val verifiedPairs = round2.groupByKey(_.dep).agg(IntersectLongRefs.toColumn)
      .flatMap { case (dep, s) =>
        s.refs.iterator.map(r => (dep, r)) }
      .toDF("dep_id", "ref_id")
    // decode reuses the count==support filter trivially: every surviving
    // pair IS at full support by construction of the intersections
    // size-conditional dict hint (the decodeCinds policy): this
    // projection is two longs per dict row, so it stays hintable well
    // past the string dict's regime — same threshold keeps one policy
    val supSide = dict.select(col("id").as("dep_id"), col("support").as("sup_"))
    val withN = exactPairs.unionByName(verifiedPairs)
      .join(if (nDict <= dictEncodeMaxBroadcastRows(spark))
          broadcast(supSide) else supSide,
        "dep_id")
      .select(col("dep_id"), col("ref_id"), col("sup_").as("n"))
    val cinds = decodeCinds(dict, withN, minSupport, nDict)
    val out = arRules.fold(cinds)(rules => arImpliedCindFilter(cinds.toDF(), rules))
    graft.core.CacheOps.cacheResult(out,
      (if (doPersist) Seq(lines) else Nil) ++ Seq(agged) ++ enc.internal)
  }

  /** Directed pair counts over encoded join lines, map-side-filtered by a
    * candidate predicate BEFORE the shuffle: only admitted directed pairs
    * ever reach the count aggregation. The predicate plays the role of
    * the reference's candidate Bloom filter broadcast (plan/
    * SmallToLargeTraversalStrategy.scala:380-407 and :450-470) — but the
    * candidate set is never ENUMERATED: the necessary conditions are
    * probed directly against filters built over the stage relations
    * (see [[allCindsSmallToLarge]]). Over-admission is harmless — a pair
    * that later passes count == support is by definition a true CIND. */
  private def filteredPairCounts(lines: DataFrame,
      pairPred: (Column, Column) => Column, splitThreshold: Int): DataFrame = {
    val narrow = lines.filter(size(col("ids")) <= splitThreshold)
      .select(explode(col("ids")).as("dep"), col("ids"))
    val wide = lines.filter(size(col("ids")) > splitThreshold)
      .select(col("ids"), explode(sequence(lit(0),
        floor((size(col("ids")) - 1) / lit(splitThreshold)).cast("int"))).as("slice"))
      .repartition() // round-robin the few replicated hub slices
      .select(explode(slice(col("ids"), col("slice") * splitThreshold + 1,
        lit(splitThreshold))).as("dep"), col("ids"))
    narrow.unionAll(wide)
      .select(col("dep"), explode(col("ids")).as("ref"))
      .filter(col("dep") =!= col("ref") && pairPred(col("dep"), col("ref")))
      .select((shiftleft(col("dep"), 32) + col("ref")).as("dpk"))
      .groupBy("dpk").agg(count(lit(1)).as("n"))
      .select(shiftright(col("dpk"), 32).as("dep_id"),
        col("dpk").bitwiseAND(lit(0xFFFFFFFFL)).as("ref_id"), col("n"))
  }

  /** Small-to-large staged discovery — the reference's DEFAULT traversal
    * (strategy 1, plan/SmallToLargeTraversalStrategy.scala:38-171),
    * re-expressed relationally: instead of counting every frequent-capture
    * pair in one pass, results climb the arity ladder and each binary
    * stage's pair emission is pruned MAP-SIDE by the previous stage's
    * results, so the binary extractions only shuffle plausible keys:
    *
    *   stage 1 — unary×unary co-occurrence counts (the reference's
    *     OverlapSet relation); 1/1 CINDs fall out as overlap == support.
    *   stage 2 — ONE mixed-arity extraction verifies 1/2 and 2/1 pairs.
    *     The necessary conditions are probed per emitted pair instead of
    *     ever ENUMERATING a candidate set (the first cut materialized the
    *     candidate joins: ~5.6 GB of (dep, ref) keys at sf0.1 — two
    *     orders of magnitude larger than the relations that generate
    *     them; probing those relations directly prunes identically):
    *       1/2 pair (u, b): (u, sub_i(b)) ∈ 1/1-CINDs for BOTH subs —
    *            u ⊑ b(r1,r2) requires u ⊑ r1 AND u ⊑ r2 (identity u ⊑ u
    *            included, reference
    *            GenerateUnaryBinaryCindCandidates.scala:17-45);
    *       2/1 pair (b, r): (sub_i(b), r) ∈ overlaps for BOTH subs —
    *            values(b) ⊆ values(sub_i) ∩ values(r); refs equal to b's
    *            own subs are trivially implied and skipped.
    *     The sub-capture lookup is a broadcast dense id→sub-id array
    *     probed by a native expression; the membership filters are Bloom
    *     filters built from c11/cinds11 themselves — the reference's
    *     candidate-BF broadcast (SmallToLargeTraversalStrategy
    *     .scala:380-407), with the BF over the GENERATING relation
    *     instead of the blown-up candidate product.
    *   stage 3 — a second extraction over binary-only lines verifies 2/2
    *     pairs: (bd, br) admitted iff (bd, sub_i(br)) ∈ the VERIFIED 2/1
    *     relation (plus the always-true trivial pairs b ⊑ own-sub,
    *     reference GenerateBinaryBinaryCindCandidates.scala:20-42) —
    *     bd ⊑ br(r1,r2) requires bd ⊑ r1 AND bd ⊑ r2.
    *
    * Result-identical to [[allCinds]] (spec-pinned and driver-checked
    * against the same oracle): every probe condition is NECESSARY for the
    * CINDs it feeds — nothing is missed — and verification is the exact
    * count-match — nothing false survives; an over-admitted pair (Bloom
    * false positive) that passes count == support is by definition a true
    * CIND that allCinds reports too, so no exact candidate re-join is
    * needed anywhere. What the ladder buys on hub-heavy data: the
    * quadratic pair SHUFFLE only ever carries unary×unary keys plus
    * probe-admitted binary keys, bounding aggregation state the way the
    * reference's staged ladder bounded Flink combiner memory (per-line
    * emission work is unchanged — the reference's extractors also walk
    * all pairs and probe their candidate BF). */
  def allCindsSmallToLarge(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      splitThreshold: Int = SplitThreshold,
      bloomConditions: Boolean = false,
      bloomCaptures: Boolean = false,
      expectedFrequentKeys: Long = 10000000L,
      projections: String = "spo",
      arRules: Option[DataFrame] = None): Dataset[CindRow] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val enc = encodedJoinLines(triples, minSupport, bloomConditions,
      arRules = arRules, bloomCaptures = bloomCaptures,
      expectedCaptures = expectedFrequentKeys, projections = projections)
    val (dict, nDictL) = (enc.dict, enc.nDict)
    // stage-1 fan-out + both extractions read the lines — same
    // valve-adjudicated persist rule as allCinds
    val doPersist = persistEncodedLines(spark, autoDefault = !enc.linesMapOnly)
    val lines = if (doPersist) { val l = enc.lines.persist(); l.count(); l }
                else enc.lines
    val unaryBit = (id: Column) => id.bitwiseAND(lit(1L))
    def pk(a: Column, b: Column) = shiftleft(a, 32) + b
    // ---- stage 1: unary×unary overlaps (arity bit filters lines map-side)
    val unaryLines = lines.select(col("join_val"),
      filter(col("ids"), id => unaryBit(id) === 1L).as("ids"))
      .filter(size(col("ids")) > 1)
    val c11 = expandCounts(pairKeys(unaryLines, splitThreshold))
      .filter(col("n") >= minSupport) // below minSupport certifies nothing
      .persist()
    val nC11 = c11.count() // 1/1 output + both stage-2 probe filters read this
    val sup = dict.select(col("id").as("dep_id"), col("support"))
    val cinds11 = c11.join(sup, "dep_id")
      .filter(col("n") === col("support"))
      .select(col("dep_id"), col("ref_id"))
    // binary capture -> its two unary sub-capture ids; dictionary-sized,
    // collected once and folded into the plans as literal maps (the same
    // move the encode step makes with the capture dictionary)
    val unaryDict = dict.filter(col("v2") === "")
    val subsArr: Array[(Long, Long, Long)] = dict.filter(col("v2") =!= "")
      .join(unaryDict.select(col("id").as("sub1_id"), col("code").as("s1c"),
        col("v1").as("s1v")),
        firstSubCode(col("code")) === col("s1c") && col("v1") === col("s1v"))
      .join(unaryDict.select(col("id").as("sub2_id"), col("code").as("s2c"),
        col("v1").as("s2v")),
        secondSubCode(col("code")) === col("s2c") && col("v2") === col("s2v"))
      .select(col("id"), col("sub1_id"), col("sub2_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dense ARRAYS indexed by (id >> 1) - 1: dictionary ids are dense by
    // construction (zipWithIndex), so the lookup is O(1) — a MAP would be
    // an O(|dict|) linear scan per probe, which at 4 lookups per emitted
    // pair dominated the whole extraction. Unary slots hold 0 (never a
    // valid id); every probe using them is already vetoed by the arity
    // conjunct. Shipped per EXECUTOR through a Broadcast read by the
    // native bcast_array_get expression, NOT folded into the plan as
    // lit(Array[Long]): a literal re-serializes the whole |dict|-sized
    // array into every task's plan for both probing stages — megabytes
    // per task once the dictionary reaches cluster-scale cardinality.
    val nDict = nDictL.toInt
    val sub1Arr = new Array[Long](nDict)
    val sub2Arr = new Array[Long](nDict)
    subsArr.foreach { case (b, s1, s2) =>
      sub1Arr((b >> 1).toInt - 1) = s1; sub2Arr((b >> 1).toInt - 1) = s2 }
    val bcSub1 = spark.sparkContext.broadcast(sub1Arr)
    val bcSub2 = spark.sparkContext.broadcast(sub2Arr)
    def arrGet(bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
        idx: Column): Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.BroadcastArrayGet(
          org.apache.spark.sql.graft.ColumnBridge.expression(idx), bc))
    def sub1Of(id: Column) = arrGet(bcSub1, shiftright(id, 1) - 1)
    def sub2Of(id: Column) = arrGet(bcSub2, shiftright(id, 1) - 1)
    // support-monotonicity prune on the DIRECTIONAL stage-2/3 emissions
    // (r13, see supportPruneMaxIds): both stages verify n == support(dep),
    // so a ref poorer than its dep can never certify — drop it map-side.
    // Stage 1 (pairKeys) is unordered and stays complete: its counts also
    // serve as the 2/1 probes' overlap relation, and an unordered pair
    // always has one feasible direction anyway.
    val supArr = supportArray(dict, nDictL)
    val supPred: (Column, Column) => Column =
      if (supArr.isEmpty) (_, _) => lit(true)
      else {
        val bcSupA = spark.sparkContext.broadcast(supArr)
        (dep, ref) =>
          arrGet(bcSupA, shiftright(ref, 1)) >= arrGet(bcSupA, shiftright(dep, 1))
      }
    // ---- stage 2: one mixed-arity extraction, probe-filtered map-side
    val bfC11 = spark.sparkContext.broadcast(buildBloomLongs(
      c11.select(pk(col("dep_id"), col("ref_id")).as("k")).as[Long],
      math.max(nC11, 1024L), 0.01))
    val bf11 = spark.sparkContext.broadcast(buildBloomLongs(
      cinds11.select(pk(col("dep_id"), col("ref_id")).as("k")).as[Long]
        // vacuous identity u ⊑ u, for 1/2 refs sharing the dep's condition
        .union(unaryDict.select(pk(col("id"), col("id")).as("k")).as[Long]),
      math.max(nC11, 1024L), 0.01))
    val mixedPred = (dep: Column, ref: Column) => {
      val s1r = sub1Of(ref); val s2r = sub2Of(ref)
      val s1d = sub1Of(dep); val s2d = sub2Of(dep)
      val p12 = unaryBit(dep) === 1L && unaryBit(ref) === 0L &&
        bloomContains(bf11, pk(dep, s1r)) && bloomContains(bf11, pk(dep, s2r))
      val p21 = unaryBit(dep) === 0L && unaryBit(ref) === 1L &&
        ref =!= s1d && ref =!= s2d && // own-sub refs are trivially implied
        bloomContains(bfC11, pk(s1d, ref)) && bloomContains(bfC11, pk(s2d, ref))
      p12 || p21
    }
    val mixedLines = lines.filter(
      exists(col("ids"), id => unaryBit(id) === 1L) &&
        exists(col("ids"), id => unaryBit(id) === 0L))
    val countsA = filteredPairCounts(mixedLines,
      (d, r) => mixedPred(d, r) && supPred(d, r), splitThreshold)
      .persist()
    val nCountsA = countsA.count() // feeds the output AND the stage-3 probe filter
    // ---- stage 3: binary-binary extraction probed against verified 2/1s
    val v21 = countsA.join(sup, "dep_id")
      .filter(col("n") === col("support") && unaryBit(col("dep_id")) === 0L)
      .select(pk(col("dep_id"), col("ref_id")).as("k")).as[Long]
    val trivial21 = spark.createDataset(
      subsArr.toSeq.flatMap(t => Seq((t._1 << 32) + t._2, (t._1 << 32) + t._3)))
    val bfV21 = spark.sparkContext.broadcast(buildBloomLongs(
      v21.union(trivial21),
      // nCountsA reuses the eager count above — the old countsA.count()
      // here was a second driver barrier over the same cached relation
      math.max(nCountsA + 2L * subsArr.length, 1024L), 0.01))
    val binPred = (dep: Column, ref: Column) =>
      bloomContains(bfV21, pk(dep, sub1Of(ref))) &&
        bloomContains(bfV21, pk(dep, sub2Of(ref)))
    val binaryLines = lines.select(col("join_val"),
      filter(col("ids"), id => unaryBit(id) === 0L).as("ids"))
      .filter(size(col("ids")) > 1)
    val countsB = filteredPairCounts(binaryLines,
      (d, r) => binPred(d, r) && supPred(d, r), splitThreshold)
    // ---- assemble: one decode; count==support + trivial-ref filter live there
    val cinds = decodeCinds(dict,
      c11.unionByName(countsA).unionByName(countsB), minSupport, nDictL)
    val out = arRules.fold(cinds)(rules => arImpliedCindFilter(cinds.toDF(), rules))
    // materialize the compact CIND result, then release the staged caches —
    // without this every call leaks lines/c11/countsA blocks for the session
    graft.core.CacheOps.cacheResult(out,
      (if (doPersist) Seq(lines) else Nil) ++ Seq(c11, countsA) ++ enc.internal)
  }

  /** Strategy 0 (AllAtOnce, reference plan/AllAtOnceTraversalStrategy
    * .scala:33-85): evidence sets per dependent capture, k-way sorted-set
    * intersection via a typed Aggregator. Semantically identical to
    * `allCinds` (cross-checked in CindEngineSpec); kept as the faithful
    * intersect-merge shape — preferable when join lines are wide but
    * evidence arrays are short. */
  def allCindsIntersect(triples: DataFrame, minSupport: Int = DefaultMinSupport,
      bloomConditions: Boolean = false,
      expectedFrequentKeys: Long = 10000000L,
      projections: String = "spo",
      arRules: Option[DataFrame] = None): Dataset[CindRow] = {
    import triples.sparkSession.implicits._
    val instances0 =
      if (bloomConditions)
        bloomPrunedCaptureInstances(triples, minSupport, expectedFrequentKeys, projections)
      else prunedCaptureInstances(triples, minSupport, projections)
    // same AR fan-out anti-join the encoded path applies (see encodedJoinLines)
    val instances = arRules match {
      case Some(rules) => instances0.join(broadcast(arImpliedConditions(rules)),
        Seq("cond_code", "v1", "v2"), "left_anti")
      case None => instances0
    }
    val freqCaps = frequentCaptures(instances, minSupport)
    val lines = joinLines(instances, freqCaps)
    val cinds = evidences(lines)
      .groupByKey(_.dep)
      .agg(IntersectCindCandidates.toColumn)
      .filter(_._2.count >= minSupport)
      .flatMap { case (dep, cs) =>
        cs.refs.iterator.map(r =>
          CindRow(dep.code, dep.v1, dep.v2, r.code, r.v1, r.v2, cs.count))
      }
    arRules.fold(cinds)(rules => arImpliedCindFilter(cinds.toDF(), rules))
  }

  /** Association rules with confidence 1.0 between unary conditions
    * (reference plan/FrequentConditionPlanner.scala:147-191): `A -> B` iff
    * every triple matching condition A also matches B, with
    * count(A) >= minSupport. Expressed as a broadcast join of the binary
    * condition counts against the unary counts — conf==1.0 is exactly
    * `count(A AND B) == count(A)`.
    * Output: (ante_code, ante_val, cons_code, cons_val, support). */
  def associationRules(triples: DataFrame, minSupport: Int = DefaultMinSupport): DataFrame = {
    // consumed twice (unary and binary splits) — persist + materialize so
    // the broadcast build sides read the cache instead of re-aggregating
    val counts = conditionCounts(triples).persist()
    val unary = counts.filter(col("cond_code").isin(1, 2, 4))
      .select(col("cond_code").as("u_code"), col("v1").as("u_v"), col("cnt").as("u_cnt"))
    val binary = counts.filter(col("cond_code").isin(3, 5, 6))
    // attribute codes of a binary condition's two members: 3=(s,p) 5=(s,o) 6=(p,o)
    val fstCode = when(col("cond_code") === 6, 2).otherwise(1)
    val sndCode = when(col("cond_code") === 3, 2).otherwise(4)
    // no broadcast hint: the unary side is the full unary-condition
    // vocabulary (can be huge); AQE picks broadcast only when it's small.
    // Equi-join keys are extracted so the planner sees a hashable join.
    val d1 = binary.withColumn("jc", fstCode)
      .join(unary, col("jc") === col("u_code") && col("v1") === col("u_v"))
      .filter(col("cnt") === col("u_cnt") && col("u_cnt") >= minSupport)
      .select(col("u_code").as("ante_code"), col("v1").as("ante_val"),
        sndCode.as("cons_code"), col("v2").as("cons_val"), col("cnt").as("support"))
    val d2 = binary.withColumn("jc", sndCode)
      .join(unary, col("jc") === col("u_code") && col("v2") === col("u_v"))
      .filter(col("cnt") === col("u_cnt") && col("u_cnt") >= minSupport)
      .select(col("u_code").as("ante_code"), col("v2").as("ante_val"),
        fstCode.as("cons_code"), col("v1").as("cons_val"), col("cnt").as("support"))
    // the rule set is the compact result every AR consumer broadcasts:
    // cache IT, release the condition-count intermediate
    graft.core.CacheOps.cacheResult(d1.unionAll(d2), Seq(counts))
  }

  // -1 sentinel (never a valid capture code) instead of NULL: these feed
  // negated filters where three-valued NULL logic would silently drop rows.
  private def firstSubCode(c: Column): Column =
    when(c === 14, 10).when(c === 21, 17).when(c === 35, 33).otherwise(-1)

  private def secondSubCode(c: Column): Column =
    when(c === 14, 12).when(c === 21, 20).when(c === 35, 34).otherwise(-1)

  /** Minimality pruning (reference plan/TraversalStrategy.scala:126-168):
    * drop a CIND if it is implied by another discovered CIND, i.e.
    *   (a) its dep is binary and one of the dep's unary sub-captures has a
    *       CIND to the same ref, or
    *   (b) its ref is unary and the same dep has a CIND to a binary ref
    *       whose sub-capture equals this ref.
    * One job collects the evidence — the unary-dep CINDs for (a), each
    * binary-ref CIND keyed by both unary sub-captures of its ref for (b) —
    * into one exact key set, broadcast to one map-side filter. The evidence
    * is a subset of the CIND set, small relative to the input data. An
    * uncached input is persisted (the collect fills it, the filter reads
    * it); either way its cache is released once the result is cached. */
  def minimalCinds(cinds: DataFrame): DataFrame = {
    import ConditionCodes.{firstSubcapture, isBinary, secondSubcapture}
    val c = if (cinds.storageLevel == StorageLevel.NONE) cinds.persist() else cinds
    val cols = Seq("dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1", "ref_v2").map(col)
    val keys = new java.util.HashSet[String]()
    c.filter(col("dep_v2") === "" || col("ref_v2") =!= "").select(cols: _*).collect()
      .foreach { r =>
        val (dc, dv1, dv2) = (r.getInt(0), r.getString(1), r.getString(2))
        val (rc, rv1, rv2) = (r.getInt(3), r.getString(4), r.getString(5))
        if (dv2.isEmpty) keys.add(implicationKey('a', dc, dv1, dv2, rc, rv1, rv2))
        if (rv2.nonEmpty && isBinary(rc)) {
          keys.add(implicationKey('b', dc, dv1, dv2, firstSubcapture(rc), rv1, ""))
          keys.add(implicationKey('b', dc, dv1, dv2, secondSubcapture(rc), rv2, ""))
        }
      }
    val bcast = c.sparkSession.sparkContext.broadcast(keys)
    val implied = udf { (dc: Int, dv1: String, dv2: String, rc: Int, rv1: String, rv2: String) =>
      val k = bcast.value
      (isBinary(dc) &&
        (k.contains(implicationKey('a', firstSubcapture(dc), dv1, "", rc, rv1, rv2)) ||
          k.contains(implicationKey('a', secondSubcapture(dc), dv2, "", rc, rv1, rv2)))) ||
        (rv2.isEmpty && k.contains(implicationKey('b', dc, dv1, dv2, rc, rv1, "")))
    }
    graft.core.CacheOps.cacheResult(c.filter(!implied(cols: _*)), Seq(c))
  }

  /** Exact key of one (dep, ref) implication-evidence pair, NUL-separated
    * as in [[graft.functions.DictEncodeIds.key]] — never a hash, since a
    * false hit would drop a real CIND. The tag keeps rule (a) and (b) apart. */
  private def implicationKey(tag: Char, dc: Int, dv1: String, dv2: String,
      rc: Int, rv1: String, rv2: String): String =
    tag.toString + "\u0000" + graft.functions.DictEncodeIds.key(dc, dv1, dv2) +
      "\u0000" + graft.functions.DictEncodeIds.key(rc, rv1, rv2)
}

/** Per-dependent-capture k-way intersection of sorted ref arrays, counting
  * evidences (reference candidate_merging/IntersectCindCandidates.scala:13-52
  * over BulkMergeDependencies.scala:21-168 — the memory-adaptive window merge
  * collapses to pairwise sorted intersection, which Spark runs as
  * partial+final ObjectHashAggregate automatically). `count == 0` marks the
  * zero buffer; a real evidence always contributes count 1.
  */
/** Single-pass hybrid merge (reference candidate_merging/
  * IntersectHalfApproximateCindCandidates.scala:16-109): exact ref arrays
  * intersect via the sorted two-pointer walk, Bloom halves intersect by
  * bitwise AND (`BloomFilter.intersect` in the reference), both inside ONE
  * buffer. Arrays share one (numBits, numHashes) geometry by construction
  * (the caller builds every evidence filter from the same prototype). */
object IntersectHybridCandidates
    extends Aggregator[HybridEvidence, HybridCindSet, HybridCindSet] {
  override def zero: HybridCindSet =
    HybridCindSet(0L, Array.empty, hasExact = false, Array.empty,
      hasBits = false)

  private def andBits(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) & b(i); i += 1 }
    out
  }

  override def reduce(b: HybridCindSet, e: HybridEvidence): HybridCindSet =
    if (e.bits.isEmpty)
      HybridCindSet(b.count + 1L,
        if (b.hasExact) SortedOps.intersect(b.refs, e.refs) else e.refs,
        hasExact = true, b.bits, b.hasBits)
    else
      HybridCindSet(b.count + 1L, b.refs, b.hasExact,
        if (b.hasBits) andBits(b.bits, e.bits) else e.bits, hasBits = true)

  override def merge(a: HybridCindSet, b: HybridCindSet): HybridCindSet =
    if (a.count == 0L) b
    else if (b.count == 0L) a
    else HybridCindSet(a.count + b.count,
      if (a.hasExact && b.hasExact) SortedOps.intersect(a.refs, b.refs)
      else if (a.hasExact) a.refs else b.refs,
      a.hasExact || b.hasExact,
      if (a.hasBits && b.hasBits) andBits(a.bits, b.bits)
      else if (a.hasBits) a.bits else b.bits,
      a.hasBits || b.hasBits)

  override def finish(r: HybridCindSet): HybridCindSet = r

  override def bufferEncoder: org.apache.spark.sql.Encoder[HybridCindSet] =
    org.apache.spark.sql.Encoders.product[HybridCindSet]
  override def outputEncoder: org.apache.spark.sql.Encoder[HybridCindSet] =
    org.apache.spark.sql.Encoders.product[HybridCindSet]
}

/** Exact sorted-intersection over pre-filtered long refs — the hybrid's
  * refinement round (the reference refines `!isExact` CindSets in its
  * follow-up round the same way). `count == 0` marks the zero buffer; an
  * evidence with EMPTY refs still counts (it must zero the intersection —
  * a line containing dep with no surviving candidate kills every ref). */
object IntersectLongRefs
    extends Aggregator[LongRefsEvidence, LongRefsSet, LongRefsSet] {
  override def zero: LongRefsSet = LongRefsSet(0L, Array.empty)

  override def reduce(b: LongRefsSet, e: LongRefsEvidence): LongRefsSet =
    if (b.count == 0L) LongRefsSet(1L, e.refs)
    else LongRefsSet(b.count + 1L, SortedOps.intersect(b.refs, e.refs))

  override def merge(a: LongRefsSet, b: LongRefsSet): LongRefsSet =
    if (a.count == 0L) b
    else if (b.count == 0L) a
    else LongRefsSet(a.count + b.count, SortedOps.intersect(a.refs, b.refs))

  override def finish(r: LongRefsSet): LongRefsSet = r

  override def bufferEncoder: org.apache.spark.sql.Encoder[LongRefsSet] =
    org.apache.spark.sql.Encoders.product[LongRefsSet]
  override def outputEncoder: org.apache.spark.sql.Encoder[LongRefsSet] =
    org.apache.spark.sql.Encoders.product[LongRefsSet]
}

object IntersectCindCandidates extends Aggregator[CindEvidence, CindSet, CindSet] {
  override def zero: CindSet = CindSet(0L, Array.empty)

  override def reduce(b: CindSet, e: CindEvidence): CindSet =
    if (b.count == 0L) CindSet(1L, e.refs)
    else CindSet(b.count + 1L, SortedOps.intersect(b.refs, e.refs))

  override def merge(a: CindSet, b: CindSet): CindSet =
    if (a.count == 0L) b
    else if (b.count == 0L) a
    else CindSet(a.count + b.count, SortedOps.intersect(a.refs, b.refs))

  override def finish(r: CindSet): CindSet = r

  override def bufferEncoder: org.apache.spark.sql.Encoder[CindSet] =
    org.apache.spark.sql.Encoders.product[CindSet]
  override def outputEncoder: org.apache.spark.sql.Encoder[CindSet] =
    org.apache.spark.sql.Encoders.product[CindSet]
}
