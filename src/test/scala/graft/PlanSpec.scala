package graft

/** Plan-shape regression tests for the scale-relevant physical
  * properties the Scaladocs promise: predicate pushdown reaching the
  * parquet scan, column pruning in ReadSchema, broadcast joins where a
  * dim is known-small, and top-k running as TakeOrderedAndProject
  * instead of a global sort. A correctness-green query whose plan
  * silently degrades (filter lifted off the scan, broadcast fallback to
  * SMJ/BNLJ) is a 100 TB regression the oracle can't see — these pin
  * the plan, not the rows. */
class PlanSpec extends GraftSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfTiny)
      .queryExecution.executedPlan.toString

  test("q_filter_pred pushes its predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("IsNotNull"), "expected pushed null guards")
  }

  test("q_scan_project prunes the scan to the projected columns") {
    val p = plan("q_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // projection keeps a handful of lineitem columns; a full-width scan
    // would read all 16
    assert(!read.contains("l_comment"), s"unpruned scan: $read")
  }

  test("q_join_broadcast broadcasts the small dimension") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_sort_limit is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_minhash_dup pair scan is the block-pair grid: no full-relation " +
      "broadcast, no BNLJ, no CartesianProduct") {
    val p = plan("q_minhash_dup")
    assert(!p.contains("CartesianProduct"), "planner fell back to cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair scan regressed to a broadcast BNLJ")
    // the grid kernel runs as a typed flatMapGroups over block-pair keys
    assert(p.contains("MapGroups"), p.take(2000))
  }

  test("q_minhash_lsh verifies in-place: no BNLJ, no cartesian, and the " +
      "merge-scan verify never rides a join condition") {
    val p = plan("q_minhash_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // The verify intersection must be evaluated ONCE per candidate in
    // the join's codegen'd output projection. If the rounded-threshold
    // filter is ever re-expressed as a Column predicate, the optimizer
    // substitutes the icnt alias and sinks graft_sorted_icnt into the
    // band join's residual condition — interpreted, twice per row,
    // measured 44 s vs 4 s at sf0.1 (the typed-filter barrier in
    // lshDupPairs exists to prevent exactly this).
    val inJoinCondition = p.linesIterator
      .filter(l => l.contains("Join "))
      .filter(l => l.contains("graft_sorted_icnt"))
    assert(inJoinCondition.isEmpty,
      s"verify scan pushed into a join condition: " +
        s"${inJoinCondition.mkString("; ")}")
    // (Band self-joins may legitimately be size-estimated into
    // BroadcastHashJoin at tiny SF — nothing in the query hints a
    // broadcast, so Catalyst's estimator flips them to shuffle joins as
    // the corpus grows.)
  }

  test("q_cosine_knn_lsh verifies in-place: no broadcast hint on any " +
      "relation, no BNLJ, no cartesian") {
    val df = SparkEntry.queries("q_cosine_knn_lsh")(spark, sfTiny)
    // The round-3 form re-attached candidate vectors with two
    // broadcast(e) joins of the ENTIRE embedding relation — fine at
    // test scale, impossible at 10⁹ vectors. The fix scores candidates
    // inside the bucket join's output projection, so nothing in the
    // query may hint a broadcast; any BroadcastHashJoin that remains is
    // Catalyst's size estimator choosing it at tiny SF, which flips to
    // a shuffle join as the corpus grows.
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "ANN path re-introduced an explicit broadcast hint")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tfidf / q_lang_id vocab dims are AQE-decided, not hint-forced") {
    for (name <- Seq("q_tfidf", "q_lang_id")) {
      val df = SparkEntry.queries(name)(spark, sfTiny)
      // no hint: at web-scale vocabulary the dim outgrows any broadcast,
      // and a hinted plan would OOM instead of falling back to shuffle
      assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
        s"$name re-introduced a broadcast hint")
      // at test scale AQE's runtime stats should still FIND the
      // broadcast — the hint removal must not cost the small-vocab
      // regime its map-side join
      df.count()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"$name lost its small-regime broadcast:\n${finalPlan.take(2000)}")
    }
  }

  test("q_decontaminate gram join is AQE-decided and hits the small-regime " +
      "broadcast") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sfTiny)
    // benchmark side must not be hint-forced: a giant eval suite has to
    // fall back to a shuffle join instead of OOMing
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"))
    df.count()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small benchmark side lost its runtime broadcast")
  }

  test("q_ngram_jaccard serves the settled shingle-mask artifact: no " +
      "raw-corpus scan, no dictionary join at serve time, no hint") {
    // the encode half (shingle explode + dictionary + mask aggregation)
    // moved into the once-per-snapshot ngrammasks build — the serve
    // plan is the pair SCAN over the persisted masks, nothing else;
    // the dictionary-join AQE stance now applies inside the build
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, sfTiny)
    val p = df.queryExecution.executedPlan.toString
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q_ngram_jaccard re-introduced a broadcast hint")
    assert(p.contains("graft_ngrammasks_"), "serve plan not on the artifact")
    assert(!p.contains("documents.parquet"), p.take(3000))
  }

  test("q_salted_join joins through the salt sub-key") {
    val p = plan("q_salted_join")
    // the fact side must reach the join carrying its deterministic salt
    // column — if a refactor drops the salt the query degenerates to the
    // plain hot-key join and this query stops exercising SkewOps at all
    assert(p.contains("__salt"), p.take(2000))
  }

  test("q_simhash_dup candidates come from the banded equi-join") {
    val p = plan("q_simhash_dup")
    // the chunk join must be a real equi shuffle/broadcast hash join,
    // not an all-pairs nested loop
    assert(!p.contains("NestedLoop"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_incr screens batch against corpus through the band " +
      "equi-join: no BNLJ, no cartesian, verify in place") {
    val p = plan("q_dedup_incr")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // the verify merge-scan must sit in the join's output projection,
    // not ride a join condition (the interpreted-twice trap)
    assert(!p.linesIterator.filter(_.contains("Join"))
      .exists(_.contains("graft_sorted_icnt")),
      "verify expression leaked into a join condition")
  }

  test("q_boilerplate is join-free: two hash aggs and a window, grams " +
      "shuffle as hashes") {
    val p = plan("q_boilerplate")
    // document frequency comes from a window over the (doc, gram-hash)
    // aggregate — a refactor that reintroduces a self-join on the gram
    // relation doubles the shuffled volume at corpus scale
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q_perplexity_bucket LM join is AQE-decided, not hint-forced") {
    val df = SparkEntry.queries("q_perplexity_bucket")(spark, sfTiny)
    // same stance as q_tfidf/q_lang_id: the bigram LM is vocabulary-
    // bounded, not corpus-bounded — small enough for AQE's runtime
    // broadcast here, but a hint would OOM at web-scale vocabulary
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q_perplexity_bucket re-introduced a broadcast hint")
    df.count()
  }

  test("q_profile stays in HashAggregate — no SortAggregate regression") {
    // the single-pass multi-DISTINCT form of this query planned string
    // min/max buffers into SortAggregate over a 5x-expanded scan:
    // measured 5.6 s warm vs 0.3 s. The regression signature is the
    // Expand; the data-width (value-keyed) stage must stay hash-based.
    // (A SortAggregate may legally appear in the FINAL global min/max
    // over the tiny distinct-value frames — that aggregates ≤|distinct|
    // rows, not the scan.)
    val p = plan("q_profile")
    assert(!p.contains("Expand"), p.take(2000))
    // every parquet scan must feed a HashAggregate: walk up from each
    // FileScan line to the nearest Aggregate node
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("FileScan parquet")).foreach {
      case (_, i) =>
        val agg = (i - 1 to 0 by -1).iterator.map(lines)
          .find(_.contains("Aggregate"))
        assert(agg.exists(_.contains("HashAggregate")),
          s"scan at line $i feeds ${agg.getOrElse("no aggregate")}")
    }
  }

  test("q_unpivot melts via Expand with no shuffle before the rollup") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), p.take(2000))
    // exactly two exchanges: the metric rollup + the presentation sort
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 2, s"unexpected extra shuffle:\n${p.take(2000)}")
  }

  test("bucketed join is a zero-Exchange sort-merge join") {
    // the whole point of the bucketed layout: when broadcast is off the
    // table (both sides large), the join must read matching buckets
    // pairwise with NO shuffle on either side
    val (li, ord) = graft.operators.Bucketing.bucketedJoinTables(spark, sfTiny)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      import org.apache.spark.sql.functions.col
      val p = spark.table(li)
        .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        s"bucketed join shuffled — layout not recognized:\n${p.take(2000)}")
      assert(p.contains("Bucketed: true"), p.take(2000))
      // (an in-partition Sort remains: Spark 3+ doesn't trust written
      // bucket-file order unless the legacy outputOrdering flag is set —
      // the scale cost was the Exchange, which is gone)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q_join_spj_days: the MULTI-LEVEL days(ts);bucket(n,k) layout " +
      "storage-partition-joins with zero Exchange — full join AND a " +
      "day-scoped slice (round-14 verdict item 4)") {
    import graft.operators.TableCommit
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_spjd").toFile
    val aT = new java.io.File(base, "a").getAbsolutePath
    val bT = new java.io.File(base, "b").getAbsolutePath
    def ts(day: Int, hour: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.parse(
        f"2026-03-0${day + 1}%dT$hour%02d:00:00Z"))
    val spec = Seq("days(ts)", "bucket(4,k)")
    TableCommit.appendRowsBy(spark, aT, spec,
      (0 until 400).map(i => (ts(i % 4, i % 12), i.toLong, s"l$i"))
        .toDF("ts", "k", "lv"))
    TableCommit.evolvePartitioningBy(spark, aT, spec)
    TableCommit.appendRowsBy(spark, bT, spec,
      (0 until 400 by 2).map(i => (ts(i % 4, i % 12), i.toLong,
        s"r$i")).toDF("ts", "k", "rv"))
    TableCommit.evolvePartitioningBy(spark, bT, spec)
    graft.plans.GraftCatalog.register(spark)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        s"SELECT a.ts, a.k, a.lv, b.rv FROM graft.`$aT` a " +
          s"JOIN graft.`$bT` b ON a.ts = b.ts AND a.k = b.k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"multi-level storage-partitioned join shuffled:\n${p.take(2500)}")
      // every even i matches its twin (ts, k) pair exactly
      assert(joined.count() == 200L, s"got ${joined.count()}")
      // a DAY-SCOPED slice keeps the co-partitioning (pushPartValues
      // aligns the surviving key sets)
      val sliced = spark.sql(
        s"SELECT a.k, a.lv, b.rv FROM graft.`$aT` a " +
          s"JOIN graft.`$bT` b ON a.ts = b.ts AND a.k = b.k " +
          s"WHERE a.ts >= TIMESTAMP'2026-03-03 00:00:00' " +
          s"AND b.ts >= TIMESTAMP'2026-03-03 00:00:00'")
      val ps = sliced.queryExecution.executedPlan.toString
      assert(!ps.contains("Exchange"),
        s"day-scoped SPJ slice shuffled:\n${ps.take(2500)}")
      assert(sliced.count() == 100L, s"got ${sliced.count()}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      graft.operators.Sinks.deleteRecursively(base)
    }
  }

  test("shuffle-one-side SPJ: a committed bucket(4,k) table joined with " +
      "a PLAIN dataframe shuffles ONLY the plain side — Spark evaluates " +
      "the catalog bucket function to re-derive the layout's hash, the " +
      "committed side never moves (the 100-TB fact⋈cdc shape)") {
    import graft.operators.TableCommit
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_spjo").toFile
    val aT = new java.io.File(base, "a").getAbsolutePath
    TableCommit.appendRowsBy(spark, aT, Seq("bucket(4,k)"),
      (0 until 100).map(i => (i.toLong, s"l$i")).toDF("k", "lv"))
    TableCommit.evolvePartitioningBy(spark, aT, Seq("bucket(4,k)"))
    graft.plans.GraftCatalog.register(spark)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      (0 until 100 by 2).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
        .createOrReplaceTempView("plain_side")
      val joined = spark.sql(s"SELECT a.k, a.lv, p.rv FROM graft.`$aT` a " +
        "JOIN plain_side p ON a.k = p.k")
      val p = joined.queryExecution.executedPlan.toString
      val nExchange = "Exchange".r.findAllIn(p).length
      assert(nExchange == 1,
        s"expected exactly the plain side's Exchange, got $nExchange:\n" +
          p.take(2500))
      // correctness proves the function agrees with the layout hash:
      // a divergent bucket id would silently drop every matched row
      assert(joined.count() == 50L, s"got ${joined.count()}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.catalog.dropTempView("plain_side")
      graft.operators.Sinks.deleteRecursively(base)
    }
  }

  test("truncate() layouts storage-partition-join: a two-level " +
      "truncate(100,id);truncate(2,tag) spec runs zero-Exchange through " +
      "the catalog's truncate function — integral floor AND string prefix") {
    import graft.operators.TableCommit
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_spjt").toFile
    val aT = new java.io.File(base, "a").getAbsolutePath
    val bT = new java.io.File(base, "b").getAbsolutePath
    // both transform kinds in one layout: ids floor to multiples of
    // 100 (LONG keys), tags group by their 2-char prefix (STRING keys)
    val spec = Seq("truncate(100,id)", "truncate(2,tag)")
    def frame(step: Int, v: String) =
      (0 until 400 by step).map(i => (i.toLong, s"t${i % 7}x$i", s"$v$i"))
        .toDF("id", "tag", if (v == "l") "lv" else "rv")
    TableCommit.appendRowsBy(spark, aT, spec, frame(1, "l"))
    TableCommit.evolvePartitioningBy(spark, aT, spec)
    TableCommit.appendRowsBy(spark, bT, spec, frame(2, "r"))
    TableCommit.evolvePartitioningBy(spark, bT, spec)
    graft.plans.GraftCatalog.register(spark)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        s"SELECT a.id, a.lv, b.rv FROM graft.`$aT` a " +
          s"JOIN graft.`$bT` b ON a.id = b.id AND a.tag = b.tag")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"truncate-level storage-partitioned join shuffled:\n${p.take(2500)}")
      assert(p.contains("KeyGroupedPartitioning") ||
        joined.count() == 200L) // plan text shape varies; count is the law
      assert(joined.count() == 200L, s"got ${joined.count()}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      graft.operators.Sinks.deleteRecursively(base)
    }
  }

  test("q_join_spj: the DSv2 catalog join is storage-partitioned — zero " +
      "Exchange, KeyGroupedPartitioning scans, DV-carrying side included") {
    import graft.operators.TableCommit
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_spjp").toFile
    val aT = new java.io.File(base, "a").getAbsolutePath
    val bT = new java.io.File(base, "b").getAbsolutePath
    TableCommit.appendRowsBy(spark, aT, Seq("bucket(8,k)"),
      (0 until 400).map(i => (i.toLong, s"l$i")).toDF("k", "lv"))
    TableCommit.evolvePartitioningBy(spark, aT, Seq("bucket(8,k)"))
    TableCommit.appendRowsBy(spark, bT, Seq("bucket(8,k)"),
      (0 until 400 by 2).map(i => (i.toLong, s"r$i")).toDF("k", "rv"))
    TableCommit.evolvePartitioningBy(spark, bT, Seq("bucket(8,k)"))
    // the composition registerBucketedView refuses: a vectored side
    TableCommit.delete(spark, aT, Seq("bucket(8,k)"),
      band("k", BigDecimal(100), BigDecimal(109)), TableCommit.MergeOnRead)
    graft.plans.GraftCatalog.register(spark)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        s"SELECT a.k, a.lv, b.rv FROM graft.`$aT` a " +
          s"JOIN graft.`$bT` b ON a.k = b.k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"DSv2 storage-partitioned join shuffled:\n${p.take(2500)}")
      assert(p.contains("BatchScan"), p.take(2000))
      // rows: even keys except the vectored 100..108
      assert(joined.count() == 195L)
      assert(joined.filter(col("k") === 42L).select("lv", "rv")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("l42", "r42")))
      assert(joined.filter(col("k") === 100L).isEmpty,
        "a deletion-vectored row survived the SPJ read")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.unset("spark.sql.sources.v2.bucketing.enabled")
      conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      graft.operators.Sinks.deleteRecursively(base)
    }
  }

  test("COMMITTED bucket(n,key) layout joins with zero Exchange through " +
      "registerBucketedView; mixed-generation and vectored snapshots " +
      "are refused") {
    import graft.operators.TableCommit
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cbv").toFile
    val aT = new java.io.File(base, "a").getAbsolutePath
    val bT = new java.io.File(base, "b").getAbsolutePath
    val left = (0 until 400).map(i => (i.toLong, s"l$i"))
      .toDF("k", "lv")
    val right = (0 until 400 by 2).map(i => (i.toLong, s"r$i"))
      .toDF("k", "rv")
    TableCommit.appendRowsBy(spark, aT, Seq("bucket(8,k)"), left)
    TableCommit.appendRowsBy(spark, bT, Seq("bucket(8,k)"), right)
    TableCommit.registerBucketedView(spark, aT, "cbv_a", "k", 8,
      new java.io.File(base, "a_serve").getAbsolutePath)
    TableCommit.registerBucketedView(spark, bT, "cbv_b", "k", 8,
      new java.io.File(base, "b_serve").getAbsolutePath)
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table("cbv_a")
        .join(spark.table("cbv_b"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        s"committed bucketed join shuffled:\n${p.take(2000)}")
      assert(p.contains("Bucketed: true"), p.take(2000))
      // and the rows are the join's rows (the layout changed the plan,
      // not the result)
      assert(joined.count() == 200L)
      assert(joined.filter(col("k") === 42L).select("lv", "rv")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("l42", "r42")))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS cbv_a")
      spark.sql("DROP TABLE IF EXISTS cbv_b")
    }
    // DAY-SCOPED views of a MULTI-LEVEL days()+bucket() layout — the
    // time-series serving shape the streaming transform sink produces:
    // one day's slice of each table joins co-located, zero Exchange
    val dT = new java.io.File(base, "dl").getAbsolutePath
    val eT = new java.io.File(base, "dr").getAbsolutePath
    def dayRows(n: Int) = (0 until n).map(i => (i.toLong, s"x$i",
      java.sql.Date.valueOf(java.time.LocalDate.of(2026, 3, 1)
        .plusDays(i % 2)))).toDF("k", "v", "d")
    TableCommit.appendRowsBy(spark, dT, Seq("days(d)", "bucket(4,k)"),
      dayRows(200))
    TableCommit.appendRowsBy(spark, eT, Seq("days(d)", "bucket(4,k)"),
      dayRows(200))
    val day = "p_d_day=2026-03-01"
    TableCommit.registerBucketedView(spark, dT, "cbv_day_l", "k", 4,
      new java.io.File(base, "dl_serve").getAbsolutePath, Some(day))
    TableCommit.registerBucketedView(spark, eT, "cbv_day_r", "k", 4,
      new java.io.File(base, "dr_serve").getAbsolutePath, Some(day))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val dj = spark.table("cbv_day_l")
        .join(spark.table("cbv_day_r"), "k")
      val dp = dj.queryExecution.executedPlan.toString
      assert(dp.contains("SortMergeJoin") && !dp.contains("Exchange") &&
        dp.contains("Bucketed: true"),
        s"day-scoped bucketed join shuffled:\n${dp.take(2000)}")
      // exactly the day's 100 even-i keys, joined 1:1
      assert(dj.count() == 100L)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS cbv_day_l")
      spark.sql("DROP TABLE IF EXISTS cbv_day_r")
    }

    // AUTO-DERIVED form: a DECLARED-spec table needs no (key, n) at
    // registration — and refuses when the spec carries no bucket entry
    TableCommit.evolvePartitioningBy(spark, bT, Seq("bucket(8,k)"))
    TableCommit.registerBucketedView(spark, bT, "cbv_auto",
      new java.io.File(base, "auto_serve").getAbsolutePath)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val ap = spark.table("cbv_auto").join(spark.table("cbv_auto")
          .select(col("k"), col("rv").as("rv2")), "k")
        .queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange") && ap.contains("Bucketed: true"),
        s"auto-derived view shuffled:\n${ap.take(1500)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS cbv_auto")
    }
    val eAuto = intercept[Exception] {
      TableCommit.registerBucketedView(spark, dT, "cbv_auto2",
        new java.io.File(base, "auto2_serve").getAbsolutePath)
    } // dT declares no spec at all
    assert(eAuto.getMessage.contains("declares no partition spec") ||
      eAuto.getMessage.contains("bucket()"), eAuto.getMessage)

    // REFUSALS — each would silently serve wrong rows:
    // (1) a mixed-generation snapshot (identity-layout file present)
    val cT = new java.io.File(base, "c").getAbsolutePath
    left.withColumn("pt", lit(0)).write.mode("overwrite")
      .partitionBy("pt").parquet(cT)
    TableCommit.initIfAbsent(cT)
    TableCommit.appendRowsBy(spark, cT, Seq("bucket(8,k)"),
      right.withColumn("pt", lit(1)))
    val e1 = intercept[Exception] {
      TableCommit.registerBucketedView(spark, cT, "cbv_c", "k", 8,
        new java.io.File(base, "c_serve").getAbsolutePath)
    }
    assert(e1.getMessage.contains("bucket(8,k)"), e1.getMessage)
    // (2) live deletion vectors on the snapshot
    val mor = TableCommit.delete(spark, aT, Seq("bucket(8,k)"),
      band("k", BigDecimal(0), BigDecimal(10)), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 11L, mor.toString)
    val e2 = intercept[Exception] {
      TableCommit.registerBucketedView(spark, aT, "cbv_a2", "k", 8,
        new java.io.File(base, "a2_serve").getAbsolutePath)
    }
    assert(e2.getMessage.contains("deletion vectors"), e2.getMessage)
    graft.operators.Sinks.deleteRecursively(base)
  }

  test("q_rrf_fusion: every top-k is TakeOrderedAndProject (no global " +
      "sort) and the dense arm broadcasts the single query vector") {
    val p = plan("q_rrf_fusion")
    val topk = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(topk >= 3, s"expected 3 TakeOrdered (2 arms + fusion), " +
      s"got $topk:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"query vector not broadcast:\n${p.take(2000)}")
    // no corpus-wide Sort outside the TakeOrdered operators
    assert(!p.linesIterator.exists(l =>
      l.trim.startsWith("+- Sort") && l.contains("global=true")),
      s"global sort leaked into the fusion plan:\n${p.take(3000)}")
  }

  test("q_sql_entry (SQL text) gets the same physical treatment as the " +
      "DataFrame queries: pushdown + TakeOrderedAndProject") {
    val p = plan("q_sql_entry")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("PushedFilters: [") &&
      p.contains("EqualTo(c_mktsegment,BUILDING)"), p.take(3000))
  }

  test("q_sql_window (SQL text) plans the IDENTICAL physical shape as its " +
      "DataFrame twin") {
    // one engine, two front doors: the SQL string and the DataFrame
    // build of the same top-2-per-customer query must produce the same
    // operator tree (same window, same rank-limit pushdown, same
    // exchange count) — not merely the same rows
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def shape(p: String): Seq[String] = p.linesIterator
      .map(_.replaceAll("^[\\s+:*()\\d-]*", ""))
      .map(_.takeWhile(_.isLetter))
      .filter(_.nonEmpty).toSeq
    val sqlShape = shape(plan("q_sql_window"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val twin = graft.sources.Tables.orders(spark, sfTiny)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .orderBy(col("o_custkey"), col("rnk"))
    val dfShape = shape(twin.queryExecution.executedPlan.toString)
    assert(sqlShape == dfShape,
      s"SQL-text and DataFrame plans diverged:\nsql=$sqlShape\ndf =$dfShape")
    // and the rank filter must ride the window, not a post-hoc global
    // filter over every row (Spark's WindowGroupLimit / rank-limit
    // pushdown) — the difference between shuffling top-2 candidates
    // and shuffling the whole table at 100 TB
    assert(sqlShape.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing: $sqlShape")
  }

  test("q_grouping_sets_df (DataFrame) plans the IDENTICAL physical shape " +
      "as the SQL-text GROUPING SETS — one Expand, one aggregation pass") {
    // the Expand-based grouping-sets plan was the last major plan
    // family covered by only one front door (round-5 verdict item 6):
    // Dataset.groupingSets and the GROUP BY GROUPING SETS text must
    // compile to the same operator tree, and that tree must be a
    // SINGLE Expand feeding one hash aggregation — not three scans
    def shape(p: String): Seq[String] = p.linesIterator
      .map(_.replaceAll("^[\\s+:*()\\d-]*", ""))
      .map(_.takeWhile(_.isLetter))
      .filter(_.nonEmpty).toSeq
    val sqlShape = shape(plan("q_grouping_sets"))
    val dfShape = shape(plan("q_grouping_sets_df"))
    assert(sqlShape == dfShape,
      s"SQL-text and DataFrame grouping-sets plans diverged:\nsql=$sqlShape\ndf =$dfShape")
    assert(dfShape.count(_ == "Expand") == 1,
      s"expected exactly one Expand: $dfShape")
    assert(dfShape.count(_.startsWith("Scan")) <= 3,
      s"grouping sets must not multiply the scans: $dfShape")
  }

  test("q_sql_subquery (SQL text) is DECORRELATED: aggregate + equi-join, " +
      "no per-row subquery execution") {
    val p = plan("q_sql_subquery")
    // a correlated scalar subquery that survives to execution shows up
    // as a SubqueryExec / InSubquery node re-run per outer row; the
    // decorrelated form is an aggregate over orders joined back on the
    // correlation key — ordinary shuffle relational algebra
    assert(!p.contains("Subquery"), s"correlated subquery not decorrelated:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("Join"), p.take(2000))
  }

  test("q_snapshot_diff reconciles via ONE keyed join — sort-merge or " +
      "shuffled-hash, never a broadcast of a snapshot, never BNLJ") {
    val p = plan("q_snapshot_diff")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // full-outer over two same-table snapshots: the key-partitioned
    // join family (SMJ or SHJ); a broadcast of either snapshot would
    // OOM at 100 TB
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(2000))
    assert(p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "a snapshot side got broadcast — table-sized at scale")
  }

  test("q_scd2 shares ONE user-partitioned shuffle across both window " +
      "passes") {
    val p = plan("q_scd2")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected one user_id shuffle feeding lag+lead, got $userExchanges:\n" +
        p.take(3000))
  }

  test("q_rolling_active: the only join arm is the 1-row scalar max " +
      "broadcast — the rolling distinct never becomes a range self-join") {
    val p = plan("q_rolling_active")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "rolling window regressed to a range self-join: " + p.take(2000))
    // the fan-out is a narrow explode; the two distinct counts share
    // one aggregation over it
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("q_funnel shares ONE user-partitioned shuffle across all three " +
      "stage windows and the per-user collapse — no join, no sort") {
    val p = plan("q_funnel")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected one user_id shuffle feeding the three window passes " +
        s"and the per-user agg, got $userExchanges:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_retention_cohort: ONE user_id window shuffle, the rate from a " +
      "window over the aggregated cohort frame — no join, no second scan") {
    val p = plan("q_retention_cohort")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "rate computation regressed to a self-join (double corpus scan): " +
        p.take(2000))
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected one user_id shuffle, got $userExchanges:\n" + p.take(3000))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      "events scanned more than once: " + p.take(3000))
  }

  test("q_bpe_pairs aggregates with map-side partial combine and takes " +
      "top-k without a global sort") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 regressed to a global sort: " + p.take(2000))
    // word count then pair sum: both hash aggregations, each with a
    // partial phase before its exchange (vocab-bounded shuffles)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      p.take(3000))
  }

  test("q_substring_dup joins windows to the churn-sized duplicate set — " +
      "no cartesian, no BNLJ, text columns never in the shuffle") {
    val p = plan("q_substring_dup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // every exchange carries only ids/hashes/counters — the document
    // text must stay below its explode, never travel a shuffle
    val badExchange = p.linesIterator.filter(_.contains("Exchange"))
      .exists(l => l.contains("text#") || l.contains(" ts#"))
    assert(!badExchange, "document text crossed a shuffle:\n" + p.take(3000))
  }

  test("q_bm25 filters to query terms below the first shuffle and takes " +
      "top-20 without a global sort") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 regressed to a global sort: " + p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the |Q|-row df frame must come back to the per-doc side broadcast,
    // never shuffling the doc side an extra time
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_inverted_index shares the (tok,doc) aggregation across df and " +
      "postings and caps posting state before collect_list") {
    val p = plan("q_inverted_index")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the row_number cap must run BELOW the collect_list aggregate:
    // Window(tok) then filter rn<=10 then objecthashagg — if collect_list
    // ever aggregates the uncapped pair table, stop-word posting lists
    // become corpus-sized agg buffers
    val lines = p.linesIterator.toVector
    val winIdx = lines.lastIndexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(l => l.contains("HashAggregate") &&
      l.contains("collect_list"))
    assert(winIdx >= 0 && aggIdx >= 0 && aggIdx < winIdx,
      s"collect_list not above the rn cap (agg@$aggIdx win@$winIdx):\n" +
        p.take(3000))
  }

  test("q_weighted_sample is one narrow map + one lang shuffle — the " +
      "hash key never drives an extra exchange") {
    val p = plan("q_weighted_sample")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly one lang shuffle, got $exchanges:\n" + p.take(3000))
    assert(!p.contains("rand("), "nondeterministic rand() in the sample path")
  }

  test("q_orc_roundtrip pushes the quantity predicate into the ORC scan " +
      "and prunes the read schema") {
    val p = plan("q_orc_roundtrip")
    assert(p.contains("Format: orc") || p.contains("OrcScan") ||
      p.toLowerCase.contains("orc"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "LessThan(l_quantity,10.0)]") ||
      (p.contains("LessThan(l_quantity") && p.contains("PushedFilters")),
      "quantity predicate did not reach the ORC scan:\n" + p.take(3000))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"),
      s"ORC scan not pruned to the aggregated columns: $read")
  }

  test("q_merge_upsert is ONE keyed join that degrades to sort-merge when " +
      "neither side fits a broadcast — never BNLJ") {
    // Catalyst narrows the audit-grain full-outer to an outer join on
    // the batch side (op.isNotNull kills target-only rows) and, at tiny
    // SF, broadcasts the statistics-small side. Both are the right
    // calls. The 100 TB property to pin is the fallback: with broadcast
    // off (= both sides huge), the merge must be the key-partitioned
    // join family, never a nested loop.
    val p = plan("q_merge_upsert")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val big = plan("q_merge_upsert")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        "merge does not survive unbroadcastable sides:\n" + big.take(3000))
      assert(!big.contains("BroadcastNestedLoopJoin") &&
        !big.contains("CartesianProduct"), big.take(2000))
    } finally spark.conf.set(key, old)
  }

  test("q_merge_upsert_sql (SQL text) plans the IDENTICAL physical shape " +
      "as the DataFrame merge — and survives unbroadcastable sides") {
    // the MERGE CTE submitted as a SQL string must land in the same
    // plan space as the DataFrame form: same narrowed join, same
    // no-BNLJ fallback. Shape-compare (operator names in order), the
    // q_sql_window/q_grouping_sets_df convention.
    def shape(p: String): Seq[String] = p.linesIterator
      .map(_.replaceAll("^[\\s+:*()\\d-]*", ""))
      .map(_.takeWhile(_.isLetter))
      .filter(_.nonEmpty).toSeq
    assert(shape(plan("q_merge_upsert_sql")) == shape(plan("q_merge_upsert")),
      s"SQL-text and DataFrame merge plans diverged:\n" +
        s"sql=${shape(plan("q_merge_upsert_sql"))}\n" +
        s"df =${shape(plan("q_merge_upsert"))}")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val big = plan("q_merge_upsert_sql")
      assert(!big.contains("BroadcastNestedLoopJoin") &&
        !big.contains("CartesianProduct"), big.take(2000))
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        big.take(3000))
    } finally spark.conf.set(key, old)
  }

  test("q_checksum_incr unions stored digests with the dirty re-scan — " +
      "no join, partial aggregation preserved") {
    val p = plan("q_checksum_incr")
    assert(!p.contains("Join"), "incremental checksum must be join-free")
    // fresh-dirty partial aggs + the final 64-bucket fold
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(3000))
    assert(p.contains("Union"), p.take(2000))
  }

  test("q_snapshot_diff_evolve prunes each generation to its own files " +
      "and keeps the keyed-join family under unbroadcastable sides") {
    val p = plan("q_snapshot_diff_evolve")
    // the gen filters must reach partition pruning, not post-scan filters
    assert(p.contains("PartitionFilters: [isnotnull(gen"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val big = plan("q_snapshot_diff_evolve")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        big.take(3000))
      assert(big.contains("FullOuter"), big.take(2000))
    } finally spark.conf.set(key, old)
  }

  test("q_error_split_text folds both branches in ONE pass over the raw " +
      "json scan — no second file read") {
    val p = plan("q_error_split_text")
    assert(p.toLowerCase.contains("json"), p.take(2000))
    // exactly one file scan feeds the branch split
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"branch split re-read the tree:\n" + p.take(3000))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(3000))
  }

  test("q_url_canon is a join-free narrow map over ONE scan — the " +
      "canonicalization runs at scan speed") {
    val p = plan("q_url_canon")
    assert(!p.contains("Join"), "url canonicalization must not join")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p.take(3000))
    // per-source rollup with the distinct-canonical count: partial
    // aggregation must survive under the regex kernel
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p.take(3000))
  }

  test("q_unicode_norm is a join-free narrow map over ONE scan with the " +
      "native graft_nfc expression inside the codegen span") {
    val p = plan("q_unicode_norm")
    assert(!p.contains("Join"), "normalization must not join")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p.take(3000))
    assert(!p.contains("HashAggregate"), "no aggregation belongs here")
    assert(p.contains("graft_nfc"), p.take(3000))
  }

  test("q_pii_entities is a join-free narrow map over ONE scan — " +
      "entity redaction runs at scan speed with no shuffle before the " +
      "presentation sort") {
    val p = plan("q_pii_entities")
    assert(!p.contains("Join"), "PII redaction must not join")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p.take(3000))
    assert(!p.contains("HashAggregate"), "no aggregation belongs here")
  }

  test("q_split_leakfree joins docs to the label table through the keyed " +
      "family — never BNLJ, never a cartesian") {
    val p = plan("q_split_leakfree")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val big = plan("q_split_leakfree")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        big.take(3000))
      assert(!big.contains("BroadcastNestedLoopJoin") &&
        !big.contains("CartesianProduct"), big.take(2000))
    } finally spark.conf.set(key, old)
  }

  test("q_checksum_audit reduces to the 64-bucket digest with map-side " +
      "partial aggregation and no join") {
    val p = plan("q_checksum_audit")
    assert(!p.contains("Join"), "checksum must be a single-table fold")
    // partial + final hash aggregate around exactly one 64-key exchange:
    // the only shuffled bytes are per-task digests
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      p.take(3000))
    val hashExchanges = p.linesIterator.count(
      _.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected one digest shuffle, got $hashExchanges:\n" + p.take(3000))
    // no sort anywhere below the final 64-row orderBy
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("text-format roundtrips aggregate THROUGH their readers with " +
      "partial combine (csv + json)") {
    for (name <- Seq("q_csv_roundtrip", "q_json_roundtrip")) {
      val p = plan(name)
      val fmt = if (name.contains("csv")) "csv" else "json"
      assert(p.toLowerCase.contains(fmt),
        s"$name does not read through the $fmt source:\n" + p.take(2000))
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
        s"$name lost map-side partial aggregation:\n" + p.take(3000))
    }
  }

  test("settled signature artifacts serve WITHOUT recomputing: " +
      "q_simhash_dup / q_dedup_incr / n_phash_dup plans never touch the " +
      "raw corpus once the artifact exists") {
    // build the artifacts (first invocation), then pin the SERVE plan:
    // the expensive half (tf explode / band signatures / PNG decode)
    // must come from the persisted table, not re-derive from documents
    for (q <- Seq("q_simhash_dup", "q_dedup_incr", "n_phash_dup"))
      SparkEntry.queries(q)(spark, sfTiny).count()
    // q_simhash_dup: fingerprints load from the artifact — no documents
    // scan, no explode, no 32-way aggregate at serve time
    val sh = plan("q_simhash_dup")
    assert(!sh.contains("documents.parquet"), sh.take(3000))
    assert(sh.contains("graft_simhash_"), "serve plan not on the artifact")
    // n_phash_dup: no decode mapPartitions at serve time
    val ph = plan("n_phash_dup")
    assert(!ph.contains("documents.parquet"), ph.take(3000))
    assert(ph.contains("graft_phashes_"), "serve plan not on the artifact")
    // q_dedup_incr: the corpus side reads the persisted band rows WITH
    // precomputed bucket sizes — the serve plan carries no Window (the
    // corpus bn window moved into the build); the batch side still
    // derives per invocation, so documents IS scanned, once, filtered
    // to the batch predicate
    val di = plan("q_dedup_incr")
    assert(di.contains("graft_incr_corpus_"), "corpus side not on the artifact")
    assert(!di.contains("Window"), "corpus bucket-size window leaked into serve")
  }

  test("q_doc_windows is a join-free narrow fan-out over ONE scan; " +
      "q_epoch_shuffle's rank window is partitioned, never global") {
    val dw = plan("q_doc_windows")
    assert(!dw.contains("Join"), dw.take(3000))
    assert("documents\\.parquet".r.findAllIn(dw).size == 1,
      "doc-windows scanned the corpus more than once")
    val es = plan("q_epoch_shuffle")
    // the shard rank must run under a (epoch, shard) partition spec —
    // an unpartitioned Window here would serialize the corpus through
    // one task (the WindowExec-single-partition failure class)
    val winLine = es.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(winLine.contains("epoch") && winLine.contains("shard"),
      s"epoch-shuffle window lost its partition spec: $winLine")
  }

  test("q_pmi_cooc: unigram sides broadcast-hash-join; the only " +
      "nested-loop arms are the two 1-row scalar totals") {
    val p = plan("q_pmi_cooc")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "unigram joins lost their broadcast")
    // exactly the two crossJoins against 1-row totals frames — any
    // third nested-loop arm means a real join degraded
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("q_lsh_eval serves the LSH side from the persisted pair table; " +
      "q_mine_pairs serves BOTH settled artifacts — no all-pairs arm") {
    val le = plan("q_lsh_eval")
    assert(le.contains("graft_pairshared_"),
      "LSH side not served from the pair-table artifact")
    assert(!le.contains("CartesianProduct") &&
      !le.contains("BroadcastNestedLoopJoin"), le.take(3000))
    // q_mine_pairs: the mined set is ITSELF a settled artifact now —
    // the serve plan is a single artifact scan (no candidate join, no
    // anchor-cap window, no raw-corpus scan at serve time); the banded
    // build shape is exercised (and billed) on the build-side closure
    val mp = plan("q_mine_pairs")
    assert(mp.contains("graft_minedpairs_"),
      "mining is not serving from the settled mined-pair artifact")
    assert(!mp.contains("documents.parquet"), mp.take(3000))
    assert(!mp.contains("Window"), "mining window leaked into serve")
    assert(!mp.contains("CartesianProduct") &&
      !mp.contains("BroadcastNestedLoopJoin"), mp.take(3000))
  }

  test("q_dq_report: all row-local checks fold into ONE orders scan " +
      "(4 scans total: scalar agg, unique, FK probe, FK count)") {
    val p = plan("q_dq_report")
    val scans = "orders\\.parquet".r.findAllIn(p).size
    assert(scans <= 4,
      s"row-local checks no longer share a scan: $scans orders scans")
    assert(p.contains("Generate explode"),
      "single-aggregate map-generator report shape lost")
  }

  test("q_sql_lateral decorrelates to aggregate + equi-join: no " +
      "nested-loop or cartesian arm, no per-outer-row re-execution") {
    val p = plan("q_sql_lateral")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashAggregate"), "lateral summary not aggregated")
    assert(p.contains("Join") && p.contains("c_custkey"),
      "expected the decorrelated equi-join on the correlation key")
  }

  test("q_winnow is join-free over ONE scan with a doc-partitioned " +
      "selection window; q_freq_spectrum is join-free with its running " +
      "window above the aggregated spectrum frame") {
    val w = plan("q_winnow")
    assert(!w.contains("Join"), w.take(3000))
    assert("documents\\.parquet".r.findAllIn(w).size == 1,
      "winnow scanned the corpus more than once")
    // the sliding min must stay partitioned by doc_id — an unpartitioned
    // frame here would serialize every gram through one task
    val winLine = w.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(winLine.contains("doc_id"),
      s"winnow selection window lost its doc partition: $winLine")
    val fs = plan("q_freq_spectrum")
    assert(!fs.contains("Join"), fs.take(3000))
    assert("documents\\.parquet".r.findAllIn(fs).size == 1,
      "freq-spectrum scanned the corpus more than once")
    // the deliberately-unpartitioned running window must sit ABOVE both
    // hash aggregations (vocab → freq → spectrum), never over raw tokens
    val lines = fs.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window "))
    val aggIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("HashAggregate") => i }
    assert(winIdx >= 0 && aggIdxs.count(_ > winIdx) >= 2,
      "running window is not above the two aggregation levels")
  }

  test("Bucketing.evict drops catalog entries; the persisted layout tree " +
      "survives and re-registration serves the SAME files zero-Exchange") {
    val (li, ord) = graft.operators.Bucketing.bucketedJoinTables(spark, sfTiny)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $li").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).get
      .stripPrefix("file:")
    assert(new java.io.File(loc).exists(), s"expected table files at $loc")
    val rows = spark.table(li).count()
    graft.operators.Bucketing.evict(spark)
    assert(!spark.catalog.tableExists(li), "catalog entry survived evict")
    // the layout is a content-keyed once-per-snapshot artifact: files
    // persist across evict (and across JVMs) — only the catalog entry
    // is session state
    assert(new java.io.File(loc).exists(),
      s"persisted bucketed layout deleted by evict at $loc")
    val files = new java.io.File(loc).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // re-registration serves the SAME files (no rebuild) with bucketing
    // metadata intact: the fact⋈fact join still plans no Exchange
    val (li2, ord2) = graft.operators.Bucketing.bucketedJoinTables(spark, sfTiny)
    assert(spark.table(li2).count() == rows)
    assert(spark.table(li2).inputFiles.map(f =>
      f.substring(f.lastIndexOf('/') + 1)).toSet == files,
      "re-registration rebuilt the layout instead of serving it")
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // broadcast off, AQE off — same harness as the zero-Exchange pin
      // above: the property must hold on the RE-REGISTERED tables
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val p = spark.table(li2)
        .join(spark.table(ord2),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"re-registered bucketed tables lost zero-Exchange:\n${p.take(2000)}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    graft.operators.Bucketing.evict(spark)
  }
}
