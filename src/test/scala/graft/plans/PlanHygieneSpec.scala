package graft.plans

import graft.{SparkSpec, SparkEntry}

/** Fleet-wide plan hygiene: no query in the driver surface may plan a
  * CartesianProduct — at 100 TB an accidental cross product is a cluster
  * outage, not a slowdown. (BroadcastNestedLoopJoin with a tiny build side
  * is the intended shape for theta joins and is allowed.)
  */
class PlanHygieneSpec extends SparkSpec {

  /** What a body ran: its jobs, its SQL executions and the query
    * executions the session reported for it.
    */
  private case class Ran(jobs: Int, executions: Int,
                         plans: Seq[org.apache.spark.sql.execution.QueryExecution])

  /** [[Ran]] of `body`, counted in a job group of its own and drained
    * with a marker query after it: the listener bus delivers events in
    * order, so once the marker's end arrives every earlier job start and
    * query end has too. Every materialization of an operator is one SQL
    * execution.
    */
  private def ran(body: => Unit): Ran = {
    val group = s"planrun-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          executions.add(props.flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse(s"job-${j.jobId}"))
        }
      }
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) drained.countDown()
        else plans.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      spark.sparkContext.setJobGroup(group, "plan hygiene run")
      body
      spark.sparkContext.clearJobGroup()
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    import scala.jdk.CollectionConverters._
    Ran(jobs.get(), executions.size, plans.asScala.toSeq)
  }

  /** Every node an executed plan runs, through adaptive query stages and
    * subqueries (a reused exchange runs nothing of its own).
    */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    val inner = p match {
      case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: adaptive.QueryStageExec        => Seq(q.plan)
      case _: exchange.ReusedExchangeExec    => Nil
      case other                             => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  test("no CartesianProduct in any driver query plan") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("grouped hist quantiles plan no single-partition stage — one-shot " +
      "AND stored forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the grouped form's whole point vs histQuantiles: windows are
    // PARTITIONED by the group, so a million groups spread across the
    // cluster instead of funneling into one task — pin that neither the
    // one-shot nor the warehouse-backed plan contains a SinglePartition
    // exchange (the ungrouped form's documented, sketch-sized exception)
    val df = (1 to 500).map(i => (s"s${i % 7}", (i % 90).toLong)).toDF("g", "v")
    val oneShot = graft.ops.Sketches.histQuantilesBy(df, col("g"), col("v"))
      .queryExecution.executedPlan.toString
    assert(!oneShot.contains("SinglePartition"),
      s"one-shot grouped plan funnels into one task:\n$oneShot")
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-planhist").toString)
    graft.ops.SketchStore.registerHistBy(db, df, col("g"), col("v"),
      batchId = 0L)
    val stored = graft.ops.SketchStore.storedHistQuantilesBy(db)
      .queryExecution.executedPlan.toString
    assert(!stored.contains("SinglePartition"),
      s"stored grouped plan funnels into one task:\n$stored")
    // the grouped KMV store's read has the same contract: the per-group
    // top-k window is PARTITIONED by group
    graft.ops.SketchStore.registerKmvBy(db, df, col("g"),
      col("v").cast("string"))
    val kmv = graft.ops.SketchStore.storedKmvEstimateBy(db)
      .queryExecution.executedPlan.toString
    assert(!kmv.contains("SinglePartition"),
      s"grouped KMV read funnels into one task:\n$kmv")
    // grouped MG: every rank/threshold window and the mass join are
    // partitioned by group — the report's total orderBy is the one
    // permitted range exchange, never a SinglePartition funnel
    graft.ops.SketchStore.registerMgBy(db, df, col("g"),
      col("v").cast("string"), batchId = 0L)
    val mg = graft.ops.SketchStore.storedHeavyHittersBy(db)
      .queryExecution.executedPlan.toString
    assert(!mg.contains("SinglePartition"),
      s"grouped MG read funnels into one task:\n$mg")
    // grouped count-min: the grid read is one hash aggregation and the
    // probe a (grp, cell)-keyed join — no SinglePartition anywhere, and
    // the data-sized grid relation is never broadcast
    graft.ops.SketchStore.registerCountMinBy(db, df, col("g"),
      col("v").cast("string"), batchId = 0L)
    val items = Seq(("s0", "1"), ("s1", "2"), ("s2", "3")).toDF("g", "t")
    val probe = graft.ops.SketchStore
      .probeStoredCountMinBy(db, items, "g", "t")
      .queryExecution.executedPlan.toString
    assert(!probe.contains("SinglePartition"),
      s"grouped count-min probe funnels into one task:\n$probe")
  }

  test("point lookup plans no range-sort exchange: one key pays no sampling job") {
    import spark.implicits._
    val db = graft.store.Db(spark,
      java.nio.file.Files.createTempDirectory("graft-planpt").toString)
    graft.store.TxWriter.write(db,
      (1 to 500).map(i => (f"k$i%04d", i.toLong, i.toLong))
        .toDF("key", "ts", "v"))
    graft.store.TxWriter.write(db,
      Seq(("k0042", 42L, 420L), ("k0042", 43L, 430L)).toDF("key", "ts", "v"))
    graft.store.TxWriter.delete(db, wildcard = "nomatch%")
    graft.store.TxWriter.delete(db, firstKey = "k0042", lastKey = "k0043",
      t0 = 43L, t1 = 44L)
    // the first lookup puts the marker rows in the driver cache
    assert(db.snapshot().get("k0042").select("v").as[Long].collect().toSeq ==
      Seq(420L))
    val df = db.snapshot().get("k0042")
    // count the jobs of exactly this collect: its own job group, and a
    // marker job in another group after it — the listener bus is FIFO,
    // so once the marker's start arrives every earlier event has too
    val group = s"planpt-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)         => jobs.incrementAndGet()
          case Some("planpt-marker") => drained.countDown()
          case _                     =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      spark.sparkContext.setJobGroup(group, "point lookup")
      val out = df.select("v").as[Long].collect().toSeq
      spark.sparkContext.setJobGroup("planpt-marker", "drain")
      spark.range(1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(rows == Seq(420L))
    assert(jobs.get() == 1, s"point lookup ran ${jobs.get()} jobs")
    val plan = df.queryExecution.executedPlan.toString
    // one key's records need no exchange: the single-partition scan feeds
    // last-wins and the (key, ts) order directly, and cached markers are
    // a filter, not a broadcast join (whose build is a job of its own)
    assert(!plan.contains("Exchange"), s"point lookup plans an exchange:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"point lookup joins the markers:\n$plan")
  }

  test("connected components: cell-partitioned pairs run only the " +
      "contraction, a path spread round-robin runs rounds") {
    import spark.implicits._
    // the semDedupKeepset shape: pairs formed within a cell and
    // hash-partitioned by it; each of the 16 cells is a 25-node path,
    // which the round loop alone would need several rounds for
    val cellPairs = (0L until 384L).map(i => (i, i + 16, i % 16))
      .toDF("id1", "id2", "cell").repartition(8, $"cell").localCheckpoint()
    var cellComp = Map.empty[Long, Long]
    val Ran(cellJobs, cellRuns, _) = ran {
      cellComp = graft.ops.Dedup.connectedComponents(cellPairs)
        .as[(Long, Long)].collect().toMap
    }
    assert(cellComp == (0L until 400L).map(i => i -> i % 16).toMap)
    assert(cellRuns == 2, s"cell-partitioned CC ran $cellRuns SQL " +
      s"executions ($cellJobs jobs), want the contraction's and the collect")
    // a 41-node path spread round-robin: nodes straddle, rounds must run
    val pathPairs = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
      .repartition(8).localCheckpoint()
    var pathComp = Map.empty[Long, Long]
    val Ran(pathJobs, pathRuns, _) = ran {
      pathComp = graft.ops.Dedup.connectedComponents(pathPairs)
        .as[(Long, Long)].collect().toMap
    }
    assert(pathComp == (0L to 40L).map(_ -> 0L).toMap)
    assert(pathRuns > cellRuns && pathJobs > cellJobs,
      s"round-robin path ran $pathRuns executions ($pathJobs jobs): no round")
  }

  test("tp_dup_spans reuses the window-hash exchange in the no-broadcast regime") {
    // at 100 TB neither side of the dup-window join broadcasts; the two
    // branches over the exploded window relation must collapse into one
    // shuffle (ReusedExchange), not recompute the explode+hash pipeline
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("tp_dup_spans")(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"window relation recomputed:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("DSIR corpus join broadcasts the bounded model table; top-k is a TakeOrdered") {
    val sfDir = "/root/testdata/sf0.001"
    // the ≤BUCKETS-row log-ratio model must broadcast onto the corpus scan
    // (a shuffled join here would shuffle the whole corpus at 100 TB)
    val w = SparkEntry.queries("sel_dsir_weights")(spark, sfDir)
    w.collect()
    val wPlan = w.queryExecution.executedPlan.toString
    assert(wPlan.contains("BroadcastHashJoin"),
      s"model join not broadcast:\n${wPlan.take(2000)}")
    // the k-row sample must be a distributed TakeOrdered, not a global sort
    val t = SparkEntry.queries("sel_dsir_topk")(spark, sfDir)
    t.collect()
    val tPlan = t.queryExecution.executedPlan.toString
    assert(tPlan.contains("TakeOrderedAndProject"),
      s"top-k planned as a full sort:\n${tPlan.take(2000)}")
  }

  test("dedup self-joins broadcast or reuse one exchange, never recompute") {
    val sfDir = "/root/testdata/sf0.001"
    // AQE finalizes the plan only after execution; run THIS df, then inspect
    Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
        "tp_gram_df", "tp_dup_spans").foreach {
      name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        // acceptable shapes: AQE broadcasts one tiny side (recompute is
        // cheaper than a shuffle at toy scale), or — the at-scale shape —
        // a shuffled join whose identical branches collapse into one
        // ReusedExchange. A shuffled join with two independent pipeline
        // computations would double the signature CPU at 100 TB.
        val shuffledJoin = plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin")
        assert(!shuffledJoin || plan.contains("ReusedExchange"),
          s"$name shuffled self-join without exchange reuse:\n${plan.take(2000)}")
    }
  }

  test("dedup_lines: drop-list anti-join broadcasts; corpus never shuffles for removal") {
    val df = SparkEntry.queries("dedup_lines")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"boilerplate drop list must broadcast:\n${plan.take(2000)}")
    // the only corpus-keyed exchange is the per-doc rebuild (doc_id) plus
    // the slim line-hash count agg — a seg-keyed join shuffle would mean
    // the drop list stopped broadcasting
    assert(!plan.contains("SortMergeJoin"),
      s"removal join degraded to a corpus shuffle:\n${plan.take(2000)}")
  }

  test("tp_decontaminate_bloom: the bloom probe sits in the plan before the join") {
    val df = SparkEntry.queries("tp_decontaminate_bloom")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"bloom prefilter missing from executed plan:\n${plan.take(2000)}")
    val filterIdx = plan.indexOf("bloom_might_contain")
    val joinIdx = plan.indexOf("HashJoin")
    assert(joinIdx >= 0 && joinIdx < filterIdx,
      "bloom filter must feed the join (appear below it in the plan tree)")
  }

  test("tp_pii_scrub plans as a pure projection: no exchange except the result sort") {
    val df = SparkEntry.queries("tp_pii_scrub")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // AQE's toString prints Final AND Initial plans, so count kinds, not
    // occurrences: the orderBy's rangepartitioning is the only exchange
    // allowed — any hashpartitioning means the op grew a shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"pii scrub should be map-only (+1 result sort):\n${plan.take(2000)}")
  }

  test("sk_kmv_distinct: the sketch is a partial-folding ObjectHashAggregate") {
    val df = SparkEntry.queries("sk_kmv_distinct")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the typed KmvAgg buffer plans as ObjectHashAggregate with a
    // partial stage — the shape that shuffles k longs per partition.
    // (countDistinct rides along for the visible-error column; the
    // sketch itself must never depend on it)
    assert(plan.contains("ObjectHashAggregate"),
      s"KMV buffer not object-agg'd (no map-side fold?):\n${plan.take(2000)}")
  }

  test("sk_countmin: grid agg map-side-combines; probe broadcasts the grid") {
    val df = SparkEntry.queries("sk_countmin")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the counter grid (≤ 4×1024 keys) must reach the probe through a
    // broadcast join — a shuffled join here would shuffle the probe side
    // by grid cell for no reason
    assert(plan.contains("BroadcastHashJoin"),
      s"count-min probe not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"count-min probe degraded to a shuffled join:\n${plan.take(2000)}")
  }

  test("emb_gram / emb_dim_stats: one aggregation, no join, no extra exchange") {
    for (name <- Seq("emb_gram", "emb_dim_stats")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), s"$name lost its agg")
      assert(!plan.contains("Join"),
        s"$name grew a join — the moments are one scan:\n${plan.take(2000)}")
      // exactly one hash exchange kind: generator → partial agg →
      // exchange(d² cells) → final agg (+ the result range sort)
      assert(plan.contains("Exchange hashpartitioning"),
        s"$name lost partial aggregation:\n${plan.take(2000)}")
    }
  }

  test("mine_hard_negatives broadcasts the query side into the label theta join") {
    val df = SparkEntry.queries("mine_hard_negatives")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the ≠-label condition makes this a theta join; with the bounded
    // query set broadcast it is one corpus scan (BroadcastNestedLoop),
    // never a shuffle of the corpus
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"hard-negative join must broadcast the queries:\n${plan.take(2000)}")
  }

  test("tp_scrub_spans reuses the window-hash exchange like tp_dup_spans") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("tp_scrub_spans")(
        spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"window relation recomputed in the no-broadcast regime:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("ret_bm25_probe_only: term set reaches the postings scan as a pushed filter") {
    val df = SparkEntry.queries("ret_bm25_probe_only")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // one postings subtree with the query terms as an In(key) SCAN
    // filter — the probe must filter on key (the last-wins window's
    // partition key, so the predicate pushes through the merge), never
    // on term (stuck above the window), and never |terms| separate scans
    assert(plan.contains("In(key,") && plan.contains("p/batch"),
      s"term-key set not pushed into the postings scan:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe joins must broadcast the bounded sides:\n${plan.take(2000)}")
  }

  test("PCA projection is map-only: no exchange in the projected plan") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Graft.embeddings(spark, "/root/testdata/sf0.001")
    val model = graft.ops.Pca.fit(emb, "embedding", 8)
    val proj = graft.ops.Pca.project(emb, "embedding", model)
      .select(col("vec_id"), col("pca"))
    proj.collect()
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"projection must be scan-speed (basis rides as literals):\n${plan.take(2000)}")
  }

  test("ret_bm25 tokenizes the corpus once, in 16 jobs or fewer") {
    var rows = 0
    val run = ran {
      rows = SparkEntry.queries("ret_bm25")(spark, "/root/testdata/sf0.001")
        .collect().length
    }
    assert(rows > 0)
    // Generate nodes reading the documents scan, over every execution of
    // the query (the postings pin and the scoring query): the corpus is
    // tokenized by exactly one of them
    val tokenizers = run.plans.flatMap(qe => nodes(qe.executedPlan)).collect {
      case g: org.apache.spark.sql.execution.GenerateExec
          if nodes(g).exists(n => n.nodeName.startsWith("Scan") &&
            n.toString.contains("documents")) => g
    }
    assert(tokenizers.size == 1, s"${tokenizers.size} tokenizations:\n" +
      run.plans.map(_.executedPlan.toString.take(3000)).mkString("\n---\n"))
    assert(run.jobs <= 16, s"ret_bm25 ran ${run.jobs} jobs")
  }

  test("dedup_semantic runs no higher-order function, projections compile " +
      "in whole-stage codegen") {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val run = ran {
      SparkEntry.queries("dedup_semantic")(spark, "/root/testdata/sf0.001")
        .collect()
    }
    val all = run.plans.flatMap(qe => nodes(qe.executedPlan))
    assert(all.nonEmpty)
    val hofs = all.flatMap(_.expressions.flatMap(_.collect {
      case h: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => h
    }))
    assert(hofs.isEmpty, s"higher-order functions in dedup_semantic: $hofs")
    val wsc = all.collect { case w: WholeStageCodegenExec => w }
    val inWsc = wsc.flatMap(w => nodes(w.child)).collect { case p: ProjectExec => p }.toSet
    val projects = all.collect { case p: ProjectExec => p }
    assert(projects.nonEmpty && projects.forall(inWsc.contains),
      s"projections outside whole-stage codegen: ${projects.filterNot(inWsc.contains)}")
    // whole-stage codegen falls back to interpreted evaluation at run time
    // when a generated method exceeds the huge-method limit; compile each
    // stage the way it does
    val limit = spark.sessionState.conf.hugeMethodLimit
    wsc.foreach { w =>
      val (_, code) = w.doCodeGen()
      val (_, stats) = org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize <= limit,
        s"stage ${w.codegenStageId} method of ${stats.maxMethodCodeSize} bytes " +
          s"falls back:\n${w.child.toString.take(1500)}")
    }
  }
}
