package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

import graft.{SparkEntry, SparkSpec}

/** Plan-regression gate: turns the per-round manual plan audit into a
  * test. Every registered query's physical plan is asserted free of the
  * two known 100 TB scale-killers, and known-filtering queries are
  * asserted to actually push their predicates into the parquet scan.
  *
  * Rule 1 — no partition-less WindowExec over unbounded input. A window
  * with an empty partitionSpec moves its ENTIRE input through one task
  * (Spark does NOT range-partition it; this is the `WindowExec: No
  * Partition Defined` warning). It is acceptable only when the input is
  * provably small or bounded:
  *   - an aggregate below the window (histogram / per-group count tables
  *     whose cardinality is the group key's, not the corpus's), or
  *   - a WindowGroupLimit below it (bounded top-k: Partial+Final rank
  *     pushdown keeps ≤k rows per partition before the window), or
  *   - a limit below it (LimitPushDownThroughWindow rewrites
  *     `row_number over () <= k` into TakeOrderedAndProject(k) under the
  *     window, so the window input is k rows), or
  *   - an explicitly allowlisted documented fidelity-only path.
  * Rule 2 — no CartesianProduct anywhere.
  * Rule 3 — queries that filter a base table must show non-empty
  * PushedFilters in the scan (predicate reached parquet).
  */
class PlansSpec extends SparkSpec {

  /** Documented fidelity-only global-window paths (oracle-parity variants
    * whose scale-default twin avoids the window; see Pipeline.split8020 /
    * hashSplit8020 and the Queries.scala notes). */
  private val fidelityAllowlist: Set[String] = Set(
    "q23_split_rownum" // reference-semantics 80/20 split; scale path is hashSplit8020
  )

  private def offendingGlobalWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case a: BaseAggregateExec => a
            case g: WindowGroupLimitExec => g
            case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
            case l: org.apache.spark.sql.execution.GlobalLimitExec => l
            case l: org.apache.spark.sql.execution.CollectLimitExec => l
          }.isEmpty => w
    }

  private def cartesians(plan: SparkPlan): Seq[SparkPlan] =
    plan.collect { case c: CartesianProductExec => c }

  /** Rule 4 — no expensive per-row digest under a wide constant fan-out.
    * x216 shipped green at 28 s because nothing priced per-row expression
    * cost: it computed a full md5 (plus a string `conv`) per (row,
    * replicate) under an `explode(sequence(0, 63))` — 64 digests per input
    * row where lanes of one digest suffice. This static check taints the
    * output attribute of any Explode over a LITERAL sequence of width
    * ≥ 16, propagates the taint through Project aliases (an alias derived
    * from a tainted column is evaluated once per fanned-out row too), and
    * flags Md5/Sha1/Sha2/Crc32/Conv expressions referencing a tainted
    * attribute. Aggregates stop the taint: after a groupBy the row count
    * is the group count, not the fan-out. Width < 16 is allowed — the
    * fixed x216 hashes once per 8-lane group, which is the point of the
    * lane device. */
  private val fanoutThreshold = 16L

  private def hashUnderFanout(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    def litLong(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    val tainted = scala.collection.mutable.HashSet.empty[ExprId]
    val offenses = scala.collection.mutable.ArrayBuffer.empty[String]
    def expensive(e: Expression): Option[String] = e match {
      case _: Md5 => Some("md5")
      case _: Sha1 => Some("sha1")
      case _: Sha2 => Some("sha2")
      case _: Crc32 => Some("crc32")
      case _: Conv => Some("conv")
      case _ => None
    }
    plan.foreachUp { node =>
      // flag BEFORE propagating this node's aliases, so the offense names
      // the digest itself rather than everything downstream of it
      node.expressions.foreach(_.foreach { e =>
        expensive(e).foreach { what =>
          if (e.references.exists(a => tainted(a.exprId)))
            offenses += s"$what(${e.references.map(_.name).mkString(",")})"
        }
      })
      node match {
        case g: Generate =>
          g.generator match {
            case Explode(seq: Sequence) =>
              (litLong(seq.start), litLong(seq.stop)) match {
                case (Some(a), Some(b)) if math.abs(b - a) + 1 >= fanoutThreshold =>
                  g.generatorOutput.foreach(att => tainted += att.exprId)
                case _ => ()
              }
            case _ => ()
          }
        case p: Project =>
          p.projectList.foreach {
            case a: Alias if a.child.references.exists(r => tainted(r.exprId)) =>
              tainted += a.exprId
            case _ => ()
          }
        case _: Aggregate => () // group count, not fan-out: taint stops here
        case _ => ()
      }
    }
    offenses.toSeq
  }

  /** Rule 5 — no brute nested-loop join with BOTH sides unbounded.
    * x276 shipped green for two rounds with a `vec_id % 5 === 0` query
    * side — 20% of the corpus, growing with it — crossJoined against the
    * full corpus: O(n²/5) pair mass that no other rule saw (it plans as a
    * BroadcastNestedLoopJoin, not a CartesianProduct, because Spark
    * broadcasts one side). A nested-loop join is only scale-safe when at
    * least one side's cardinality is bounded by construction:
    *   - an Aggregate below it (group-count cardinality, e.g. the 1-row
    *     moment frames every `crossJoin(broadcast(stats))` uses), or
    *   - a limit of any flavor (Global/Local/TakeOrderedAndProject/
    *     CollectLimit — the fixed x276 seeds via `.limit(200)`), or
    *   - a literal relation (LocalTableScan) or a literal-bounded Range, or
    *   - a filter comparing a BARE attribute to literals with </<=/=/IN
    *     (x5's `vec_id < 20` exact baseline) — whether it survives as a
    *     FilterExec or was pushed into the scan's dataFilters. A predicate
    *     on a DERIVED expression (`vec_id % 5 === 0`) keeps a constant
    *     FRACTION, not a constant COUNT, and does not qualify.
    * The rule flags only PROVABLE unboundedness: both sides must descend
    * from a file scan with no bounding device on the path. A
    * `localCheckpoint()`ed frame surfaces as an RDD scan with its lineage
    * (and any bounding Aggregate/limit above the original scan) truncated —
    * x177/x187/x191/x203/x220/x231/x298 all nested-loop-join frames whose
    * boundedness (months grid, limit(100) sample, 20-bin lattice, 5-group
    * table, 1-row fit) was established BEFORE the checkpoint. Those sides
    * are INDETERMINATE, not unbounded, so they don't trip the rule; the
    * honest cost is a blind spot for a checkpointed corpus-sized frame
    * brute-joined against another — which rule 2 (no CartesianProduct) and
    * the per-query ScaleProbe ratios still price. */
  private def unboundedBruteJoins(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def boundingPred(conds: Seq[Expression]): Boolean =
      conds.exists { c =>
        var found = false
        c.foreach {
          case LessThan(_: AttributeReference, _: Literal) => found = true
          case LessThanOrEqual(_: AttributeReference, _: Literal) => found = true
          case EqualTo(_: AttributeReference, _: Literal) => found = true
          case EqualTo(_: Literal, _: AttributeReference) => found = true
          case GreaterThan(_: Literal, _: AttributeReference) => found = true
          case GreaterThanOrEqual(_: Literal, _: AttributeReference) => found = true
          case In(_: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
            found = true
          case InSet(_: AttributeReference, _) => found = true
          case _ => ()
        }
        found
      }
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec => true
      case _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case _: LocalTableScanExec => true
      case w: WindowGroupLimitExec => true // ≤k per partition key side
      case r: RangeExec => r.range.numElements <= BigInt(4096)
      case f: FilterExec =>
        boundingPred(Seq(f.condition)) || f.children.exists(bounded)
      case s: FileSourceScanExec =>
        boundingPred(s.dataFilters ++ s.partitionFilters)
      case r: ReusedExchangeExec => bounded(r.child)
      case other => other.children.exists(bounded)
    }
    def corpusScan(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case r: ReusedExchangeExec => corpusScan(r.child)
      case other => other.children.exists(corpusScan)
    }
    plan.collect {
      case j: BroadcastNestedLoopJoinExec
          if corpusScan(j.left) && corpusScan(j.right) &&
            !bounded(j.left) && !bounded(j.right) =>
        j.simpleStringWithNodeId()
    }
  }

  // ---- plan-shape fingerprints (round-15 judge stretch #7): a committed
  // golden operator-multiset per registry query, diffed on every run, so
  // an accidental plan regression (a lost broadcast, a new shuffle, a join
  // strategy flip) surfaces as a NAMED per-query diff the round it lands
  // instead of as anonymous bench drift three rounds later. The
  // fingerprint is deliberately coarse — counts of the node types that
  // move money at scale — so routine Spark-internal churn (projection
  // order, codegen ids) never trips it. Regenerate after an INTENDED plan
  // change with SPARK_GRAFT_REGEN_FINGERPRINTS=1 sbt "testOnly *PlansSpec"
  // and commit the diff — the diff in git review IS the plan review.
  private val fpNodeNames = Map(
    "ShuffleExchangeExec" -> "shuffle_exchange",
    "BroadcastExchangeExec" -> "broadcast_exchange",
    "ReusedExchangeExec" -> "reused_exchange",
    "SortMergeJoinExec" -> "sort_merge_join",
    "BroadcastHashJoinExec" -> "broadcast_hash_join",
    "ShuffledHashJoinExec" -> "shuffled_hash_join",
    "BroadcastNestedLoopJoinExec" -> "broadcast_nested_loop_join",
    "CartesianProductExec" -> "cartesian_product",
    "SortExec" -> "sort",
    "WindowExec" -> "window",
    "WindowGroupLimitExec" -> "window_group_limit",
    "HashAggregateExec" -> "aggregate",
    "ObjectHashAggregateExec" -> "aggregate",
    "SortAggregateExec" -> "aggregate",
    "GenerateExec" -> "generate",
    "ExpandExec" -> "expand")

  private def fingerprint(plan: SparkPlan): Map[String, Int] =
    plan.collectWithSubqueries {
      case p if fpNodeNames.contains(p.getClass.getSimpleName) =>
        fpNodeNames(p.getClass.getSimpleName)
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  private val fpFile = new java.io.File("plan_fingerprints.json")
  private val fpRegen = sys.env.get("SPARK_GRAFT_REGEN_FINGERPRINTS").contains("1")
  private val fpCollected =
    new scala.collection.concurrent.TrieMap[String, Map[String, Int]]()
  private lazy val fpGolden: Map[String, Map[String, Int]] = {
    if (!fpFile.exists) Map.empty
    else {
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(fpFile)
      val out = scala.collection.mutable.Map[String, Map[String, Int]]()
      tree.properties().forEach { e =>
        val inner = scala.collection.mutable.Map[String, Int]()
        e.getValue.properties().forEach(f => inner(f.getKey) = f.getValue.asInt())
        out(e.getKey) = inner.toMap
      }
      out.toMap
    }
  }

  private def fpCheck(name: String, plan: SparkPlan): Unit = {
    val fp = fingerprint(plan)
    fpCollected(name) = fp
    if (!fpRegen) fpGolden.get(name).foreach { golden =>
      if (fp != golden) {
        val keys = (fp.keySet ++ golden.keySet).toSeq.sorted
        val diff = keys.flatMap { k =>
          val (was, is) = (golden.getOrElse(k, 0), fp.getOrElse(k, 0))
          if (was != is) Some(s"  $k: $was -> $is") else None
        }
        fail(s"$name plan shape drifted from plan_fingerprints.json:\n" +
          diff.mkString("\n") + "\nIf the change is intended, regenerate " +
          "with SPARK_GRAFT_REGEN_FINGERPRINTS=1 and commit the diff.")
      }
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan hygiene: $name") {
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.sparkPlan
      fpCheck(name, plan)
      val badWindows = offendingGlobalWindows(plan)
      if (!fidelityAllowlist(name)) {
        assert(badWindows.isEmpty,
          s"$name has ${badWindows.size} partition-less WindowExec over " +
            s"unbounded input:\n${badWindows.map(_.simpleStringWithNodeId()).mkString("\n")}")
      }
      assert(cartesians(plan).isEmpty,
        s"$name plans a CartesianProduct — unbounded O(n*m) at scale")
      val brute = unboundedBruteJoins(plan)
      assert(brute.isEmpty,
        s"$name plans a nested-loop join with BOTH sides unbounded — " +
          s"O(n*m) pair mass at scale (the old-x276 shape; bound one side " +
          s"with a limit, an aggregate, or a literal id filter):\n" +
          brute.mkString("\n"))
      val hashFanout = hashUnderFanout(df.queryExecution.analyzed)
      assert(hashFanout.isEmpty,
        s"$name computes an expensive digest per fanned-out row " +
          s"(${hashFanout.mkString("; ")}) under an explode(sequence) of " +
          s"width >= $fanoutThreshold — hash once per row and split the " +
          "digest into lanes (the x216 round-10 fix)")
      val decimalCols = df.schema.fields
        .filter(f => containsDecimal(f.dataType)).map(_.name)
      assert(decimalCols.isEmpty,
        s"$name emits DecimalType column(s) ${decimalCols.mkString(", ")} — " +
          "the driver reads Spark parquet decimals exactly (trailing zeros " +
          "kept) but its DuckDB oracle frame coerces DECIMAL to float64, so " +
          "any value with trailing zeros at the declared scale hash-" +
          "mismatches despite equal values (round-7 adjudication). Emit " +
          "round(..., n) as DOUBLE; decimals are fine inside a computation.")
    }
  }

  /** DecimalType anywhere in a (possibly nested) output type. */
  private def containsDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType => true
      case a: ArrayType => containsDecimal(a.elementType)
      case m: MapType => containsDecimal(m.keyType) || containsDecimal(m.valueType)
      case s: StructType => s.fields.exists(f => containsDecimal(f.dataType))
      case _ => false
    }
  }

  /** Queries whose semantics filter a base table: the predicate must reach
    * the parquet scan, not run post-scan (a scan that reads every row for
    * a filtering query is wrong at 100 TB). */
  private val mustPushFilters = Seq(
    "q2_filter_project", "q5_semi_join",
    "q42_returned_revenue", "x13_ann_ivf",
    "x94_hybrid_rrf", "x98_next_event_eval", "x108_scd2_history",
    "x112_dim_lookup_asof", "x128_negative_samples")
  // x22_clean_corpus now reads the SharedStages memo (its final plan is a
  // bare scan of the materialized survivors); the pushed-filter claim
  // moved to the shared BUILD plan — asserted in its own test below.
  // x110_bitext_margin also filters its scans (lang = 'en'/'de') but
  // localCheckpoints the pair table, which truncates lineage — the final
  // plan can't surface the pre-checkpoint PushedFilters for this gate.

  mustPushFilters.foreach { name =>
    test(s"pushed filters: $name") {
      val s = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(s).isDefined,
        s"$name shows no non-empty PushedFilters in its formatted plan")
    }
  }

  test("pushed filters: SharedStages.cleanDeduped build (x22/x167's shared stage)") {
    val s = graft.ops.SharedStages.cleanDedupedBuild(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(s).isDefined,
      "the shared cleaning stage's build shows no non-empty PushedFilters " +
        "— the quality gate's scan would read every row's every column at 100 TB")
  }

  test("x154 month filter prunes at the DIRECTORY level (PartitionFilters)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = SparkEntry.queries("x154_partition_pruning")(spark, sfDir)
      .queryExecution.sparkPlan
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "x154 shows no FileSourceScanExec")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "x154's month predicate did not become a partition filter — the " +
        "scan would read every month's directory at 100 TB")
  }

  test("q48's ORC scan carries the pushed l_quantity filter (round-13 ask #4)") {
    // the oracle reads the ORIGINAL parquet, so it can never notice a
    // pushdown regression on the ORC sink's read path — only this can
    val s = SparkEntry.queries("q48_orc_roundtrip")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(s.toLowerCase.contains("orc"),
      "q48's read side no longer scans ORC — the roundtrip claim is void")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(s).isDefined,
      "q48's l_quantity predicate did not push into the ORC scan — a full " +
        "read of the sink at 100 TB")
  }

  test("q49's event_type equality binds as a planning-time PartitionFilter (round-13 ask #4)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = SparkEntry.queries("q49_partition_pruned_scan")(spark, sfDir)
      .queryExecution.sparkPlan
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "q49 shows no FileSourceScanExec")
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "event_type"))),
      "q49's event_type predicate did not become a partition filter — the " +
        "scan would open every event_type directory at 100 TB")
  }

  test("x142 bucketed join consumes table partitioning: zero Exchange under the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // AQE wraps the plan in AdaptiveSparkPlanExec, hiding the join from
    // collect() until execution; the bucketing claim is AQE-independent,
    // so inspect the statically-prepared plan instead.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val plan =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        SparkEntry.queries("x142_bucketed_join")(spark, sfDir)
          .queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.isDefined, "x142 did not plan a SortMergeJoin")
    val shufflesUnderJoin = smj.get.collect { case e: ShuffleExchangeExec => e }
    assert(shufflesUnderJoin.isEmpty,
      "bucketed join sides should read pre-partitioned — found " +
        s"${shufflesUnderJoin.size} Exchange(s) under the SortMergeJoin")
  }

  test("x128 draw lookup is an equi HASH join, never a nested-loop interval scan") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = SparkEntry.queries("x128_negative_samples")(spark, sfDir)
      .queryExecution.sparkPlan
    // the bucketed interval-containment device must surface as a HASH
    // equi-join on the bucket key; a BroadcastNestedLoopJoin here would
    // mean the range predicate fell out of the join keys and every draw
    // scans all |items| intervals again (the O(|items|) shape the round-9
    // rewrite removed). The two bounded 1-row broadcasts (bigw, n_tot)
    // are nested-loop by nature, so the assert targets joins whose
    // STREAMED side is the draw fan-out (non-1-row build).
    // the div bucket arithmetic projects below the join, so the key
    // surfaces as a plain `bkt` attribute on both sides
    def isBkt(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.toString.startsWith("bkt#"))
    val bucketJoins = plan.collect {
      case j: BroadcastHashJoinExec if isBkt(j.leftKeys ++ j.rightKeys) => j
      case j: ShuffledHashJoinExec if isBkt(j.leftKeys ++ j.rightKeys) => j
      case j: SortMergeJoinExec if isBkt(j.leftKeys ++ j.rightKeys) => j
    }
    assert(bucketJoins.nonEmpty,
      "x128 plans no hash equi-join keyed on the bucket attribute")
    val intervalBnl = plan.collect {
      case j: BroadcastNestedLoopJoinExec
          if j.condition.exists(_.toString.contains("cum#")) => j
    }
    assert(intervalBnl.isEmpty,
      "x128's interval containment planned as a conditioned nested-loop " +
        "join over the cum table — the bucket key is not acting as an " +
        "equi key and every draw rescans all |items| intervals")
  }

  test("x163 rolling WAU plans NO window function (fan-out, not sliding rescan)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("x163_rolling_wau")(spark, sfDir)
      .queryExecution.sparkPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "x163 should invert the sliding COUNT DISTINCT into a x7 " +
        "contribution fan-out — a WindowExec means a per-day rescan shape")
  }

  test("x164 MERGE applies through one equi full-outer join, no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val plan = SparkEntry.queries("x164_merge_upsert")(spark, sfDir)
      .queryExecution.sparkPlan
    val fullOuter = plan.collect {
      case j: SortMergeJoinExec
          if j.joinType.toString.toLowerCase.contains("outer") => j
      case j: ShuffledHashJoinExec
          if j.joinType.toString.toLowerCase.contains("outer") => j
    }
    assert(fullOuter.nonEmpty, "x164 plans no equi full-outer join")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "x164's merge join degenerated to a nested loop")
  }

  test("hash-under-fanout rule fires on the old x216 shape (regression fixture)") {
    import org.apache.spark.sql.functions._
    // the exact pre-round-10 pattern: one md5 + conv PER (row, replicate)
    // under a 64-wide constant explode
    val purch = spark.range(10).select(col("id").as("user_id"),
      (col("id") * 7).as("ep"), (col("id") % 5).as("cents"))
    val bad = purch
      .select(col("user_id"), col("ep"), col("cents"),
        explode(expr("sequence(0, 63)")).as("b"))
      .withColumn("u",
        conv(substring(md5(concat_ws(":", lit("pb"), col("user_id"),
          col("ep"), col("cents"), col("b"))), 1, 12), 16, 10)
          .cast("long"))
    val hits = hashUnderFanout(bad.queryExecution.analyzed)
    assert(hits.exists(_.startsWith("md5")),
      s"fixture should flag the per-replicate md5; got: $hits")
    // and the FIXED lane shape (8-wide groups) must pass
    val good = purch
      .select(col("user_id"), col("ep"), col("cents"),
        explode(expr("sequence(0, 7)")).as("g"))
      .select(col("cents"), col("g"),
        md5(concat_ws(":", lit("pb"), col("user_id"), col("ep"),
          col("cents"), col("g"))).as("dg"))
      .select(col("cents"), col("g"), col("dg"),
        explode(expr("sequence(0, 7)")).as("j"))
      .select((col("g") * 8 + col("j")).as("b"), col("cents"),
        conv(expr("substring(dg, j * 4 + 1, 4)"), 16, 10)
          .cast("long").as("u"))
    assert(hashUnderFanout(good.queryExecution.analyzed).isEmpty,
      "the 8-lane-group digest shape must not be flagged")
  }

  test("unbounded-brute-join rule fires on the old x276 shape (regression fixture)") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sfDir)
    // the exact pre-round-11 pattern: a corpus-FRACTION query side
    // (vec_id % 5 keeps 20% of the corpus at any size) nested-loop-joined
    // against the full corpus
    val bad = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      .crossJoin(e.select(col("vec_id").as("cid")))
      .filter(col("qid") =!= col("cid"))
    assert(unboundedBruteJoins(bad.queryExecution.sparkPlan).nonEmpty,
      "fixture should flag the corpus-fraction nested-loop join")
    // the FIXED seed shape (limit 200) must pass
    val seeds = e.select(col("vec_id"))
      .orderBy((col("vec_id") % 1000003L * 48271L % 1000003L).asc,
        col("vec_id").asc).limit(200)
    val good = e.join(broadcast(seeds), Seq("vec_id"))
      .select(col("vec_id").as("qid"))
      .crossJoin(e.select(col("vec_id").as("cid")))
      .filter(col("qid") =!= col("cid"))
    assert(unboundedBruteJoins(good.queryExecution.sparkPlan).isEmpty,
      "the fixed-size limit(200) seed side must not be flagged")
    // and the literal-bound exact baselines (x5's vec_id < 20) must pass,
    // including when the predicate is pushed into the parquet scan
    val baseline = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"))
      .crossJoin(e.select(col("vec_id").as("cid")))
      .filter(col("qid") =!= col("cid"))
    assert(unboundedBruteJoins(baseline.queryExecution.sparkPlan).isEmpty,
      "a literal id-bounded query side must not be flagged")
  }

  test("x238 plan carries NO digest expressions (draw table stays materialized)") {
    import org.apache.spark.sql.catalyst.expressions.{Conv, Md5}
    // The round-10 x238 fix checkpoints the (bigram, seed) draw table, so
    // the five md5+conv draws execute ONCE at materialization and the
    // final plan contains none of them. Before the fix, physical planning
    // broadcast the bare grid and re-evaluated the draws per SAMPLE row
    // (|tf|*seeds, twice under the band self-join): 22.9 s vs 3.9 s at
    // sf0.1. If the checkpoint is ever dropped, the digests reappear in
    // this plan — that is the regression this test pins.
    val plan = SparkEntry.queries("x238_icws_weighted_minhash")(spark, sfDir)
      .queryExecution.sparkPlan
    val digests = plan.flatMap(_.expressions.flatMap(_.collect {
      case m: Md5 => m.sql
      case c: Conv => c.sql
    }))
    assert(digests.isEmpty,
      s"x238's plan re-evaluates draw digests per joined row: $digests")
  }

  test("x221 per-stratum weighted draw plans a WindowGroupLimit (rank pushdown, <= k rows shuffled)") {
    val plan = SparkEntry.queries("x221_weighted_reservoir")(spark, sfDir)
      .queryExecution.sparkPlan
    val wgl = plan.collect { case w: WindowGroupLimitExec => w }
    assert(wgl.nonEmpty,
      "x221's rank <= k filter did not push into a WindowGroupLimit — " +
        "the stratum shuffle would move the whole corpus instead of " +
        "k rows per map partition per stratum")
    // Partial mode must appear below the shuffle (that's the map-side cut)
    assert(wgl.exists(_.mode.toString.contains("Partial")),
      s"x221 has no Partial-mode WindowGroupLimit below the shuffle: " +
        wgl.map(_.mode.toString).mkString(","))
  }

  test("x161 computes all 25 distinct counts in ONE scan (Expand, single orders read)") {
    import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec}
    val plan = SparkEntry.queries("x161_fd_discovery")(spark, sfDir)
      .queryExecution.sparkPlan
    assert(plan.collect { case e: ExpandExec => e }.nonEmpty,
      "x161 shows no Expand — multi-distinct fell back to per-pair plans")
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"x161 reads its input ${scans.size} times — the 25 distinct counts " +
        "must share one scan (at 100 TB each extra scan is a full table read)")
  }

  test("x306 Gram grid is mirror-free codegen explodes (no union, no HOF)") {
    // round 17 replaced the upper-triangle + mirror-union form (whose
    // single execution rested on fragile AQE runtime stage reuse, and
    // whose cells came from interpreted CodegenFallback transform/slice
    // lambdas) with a direct full-grid posexplode×posexplode of pure
    // long products. Gate the new shape: no Union anywhere (the mirror
    // and its reuse hazard are structurally gone) and no higher-order
    // lambda in the Gram path — a reintroduced HOF would silently put
    // the dominant term back on the interpreted path.
    // (the per-element fixed-point cast in `ints` keeps its one cheap
    // 64-eval/row transform — the gate is on the QUADRATIC Gram path,
    // which the fingerprint's generate count pins to plain explodes)
    val df = SparkEntry.queries("x306_effective_rank")(spark, sfDir)
    val s = df.queryExecution.sparkPlan.toString
    assert(!s.contains("Union"),
      "x306 plans a Union again — the mirror form is back and its single " +
        "execution depends on AQE stage reuse; keep the direct full grid")
  }

  // Registered AFTER the per-query hygiene tests so fpCollected is full
  // (ScalaTest runs a suite's tests in registration order). In regen mode
  // this WRITES the golden file; otherwise it proves the golden file
  // covers the registry exactly — a new query without a committed
  // fingerprint, or a stale entry for a deleted one, fails here by name.
  test("plan fingerprints: golden file covers the registry exactly") {
    val names = SparkEntry.queries.keySet
    if (fpRegen) {
      val body = fpCollected.toSeq.sortBy(_._1).map { case (n, fp) =>
        val inner = fp.toSeq.sorted
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        s""""$n":$inner"""
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(fpFile.toPath, body)
      info(s"regenerated ${fpCollected.size} fingerprints into $fpFile")
    } else {
      assert(fpFile.exists,
        "plan_fingerprints.json missing — regenerate with " +
          "SPARK_GRAFT_REGEN_FINGERPRINTS=1 sbt 'testOnly *PlansSpec'")
      val missing = names -- fpGolden.keySet
      val stale = fpGolden.keySet -- names
      assert(missing.isEmpty && stale.isEmpty,
        s"fingerprint golden out of sync — missing: ${missing.toSeq.sorted
          .mkString(", ")}; stale: ${stale.toSeq.sorted.mkString(", ")}. " +
          "Regenerate with SPARK_GRAFT_REGEN_FINGERPRINTS=1 and commit.")
    }
  }
}
