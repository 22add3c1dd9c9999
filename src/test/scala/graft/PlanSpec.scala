package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale posture (broadcasts,
  * pruning, pushdown) is part of the contract, not an accident — a
  * refactor that silently turns a broadcast join into a sort-merge or
  * widens a scan should fail here, not at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("dimension joins broadcast; no cartesian products in join queries") {
    val p = plan(queries.RelationalQueries.q02MarketRevenue(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "tiny dims must not sort-merge")
  }

  test("aggregation scan prunes to the referenced columns only") {
    val p = plan(queries.RelationalQueries.q01PricingSummary(spark, TestSpark.sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    // 5 data columns + 2 grouping columns; the other 4 must not be read
    assert(!read.contains("l_orderkey") && !read.contains("l_shipdate"), read)
    assert(read.contains("l_quantity") && read.contains("l_returnflag"), read)
  }

  test("extract pushes the media filter into the parquet scan") {
    val p = plan(queries.EtlQueries.q14Extract(spark, TestSpark.sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_linenumber), " +
      "LessThanOrEqual(l_linenumber,4)") ||
      p.contains("LessThanOrEqual(l_linenumber,4)"), "backupfile prefilter pushed")
    assert(p.contains("BroadcastHashJoin"), "catalog dims broadcast")
  }

  test("extract file-list aggregation is window-restricted by a semi join") {
    val p = plan(queries.EtlQueries.q14Extract(spark, TestSpark.sf))
    // the backupfile groupBy must sit ABOVE a left-semi join against the
    // watermark-filtered set ids — without it a 3-row trickle window
    // still aggregates the entire backupfile table (Catalyst cannot push
    // a join restriction through the aggregate on its own)
    assert(p.contains("LeftSemi"),
      "file aggregation must be semi-join-restricted to the window")
  }

  test("substring dedup: keep-first is a combinable agg, not a window sort") {
    val p = plan(queries.PipelineQueries.q75SubstringDedup(spark, TestSpark.sf))
    // min(struct(doc, off)) grouped on the window digest map-side
    // combines — a row_number window would sort every occurrence of a
    // hot repeated span in one partition
    assert(!p.contains("Window"), "keep-first must not be a window")
  }

  test("dsir scoring is a shuffle-free projection over the corpus scan") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val p = plan(graft.pipeline.Dsir.score(
      docs, "doc_id", "text", Array.fill(64)(0.1)))
    // the fitted ratio table ships as a literal — scoring must not
    // shuffle, join, or aggregate
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"), p.linesIterator.take(12).mkString("\n"))
  }

  test("pq encode is a shuffle-free projection with literal codebooks") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val cb = graft.pipeline.Pq.sampleCodebooks(
      emb, "vec_id", "embedding", m = 8, k = 16)
    val p = plan(graft.pipeline.Pq.encode(emb, "vec_id", "embedding", cb))
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"), p.linesIterator.take(12).mkString("\n"))
  }

  test("null-safe dedup anti-join stays a hash join (no nested-loop fallback)") {
    val bh = graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    val p = plan(store.ConsolidatedStore.mergeNew(bh, bh.drop("LogID")))
    // <=> keys are equi-join keys (EqualNullSafe): the NULLs-are-equal
    // semantics must not cost the broadcast-hash shape the plain-equality
    // join had — a nested-loop here would be O(batch * table) at 100 TB
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"),
      p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("paragraph dedup: keep-first is a combinable agg, not a window sort") {
    val p = plan(queries.PipelineQueries.q72ParagraphDedup(spark, TestSpark.sf))
    // min(struct(doc,pos)) grouped on the paragraph digest map-side
    // combines — a row_number window here would sort every occurrence of
    // a hot paragraph in one partition (the 10M-duplicate skew shape)
    assert(!p.contains("Window"), "keep-first must not be a window")
  }

  test("per-key restore windows partition on the access-path key") {
    val p = plan(queries.BackupQueries.q10LatestFull(spark, TestSpark.sf))
    assert(p.contains("dense_rank"), "rank-one-stripes window present")
    // the window must be partitioned (no global single-partition sort)
    assert(p.contains("partitionBy") || p.contains("PartitionBy") ||
      p.contains("windowspecdefinition(database_name"), "partitioned window")
  }

  test("fleet planner is one shuffle and no window: the planner runs per database") {
    val bh = graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    val planned = graft.script.FleetRestorePlanner.planAllWithFallback(
      bh, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    // the planner's own operators; the cached input's derivation plan is
    // an inner child of its scan and not walked
    object Walk extends AdaptiveSparkPlanHelper
    val nodes = Walk.collect(planned.queryExecution.executedPlan) { case n => n }
    val p = nodes.map(_.nodeName).mkString(", ")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), p)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, p)
  }

  test("bucketed consolidated table: per-key aggregation runs shuffle-free") {
    val bh = graft.etl.BackupHistoryDerivation.canonicalFrame(spark, TestSpark.sf)
    store.BucketedStore.create(spark, "graft_bucketed_test", bh, buckets = 4)
    try {
      val agg = store.BucketedStore.read(spark, "graft_bucketed_test")
        .groupBy("database_name")
        .agg(org.apache.spark.sql.functions.max("last_lsn"))
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed groupBy must not shuffle:\n${p.take(2000)}")
      assert(agg.count() == 5)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_test")
    }
  }

  test("similarity search broadcasts the query side") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val p = plan(pipeline.Similarity.bruteForceTopK(
      emb, emb.limit(5), "vec_id", "embedding", 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "queries must broadcast, corpus must stream")
  }

  test("corpus-sized ANN query sets shuffle on the list id, never broadcast") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val p = plan(pipeline.Similarity.ivfTopKBig(
      emb, emb, "vec_id", "embedding", 2, nCentroids = 16, nProbe = 2))
    // the candidate join (corpus lists x query probes on cid) must be a
    // shuffle join: a broadcast of the probe side caps the query set at
    // driver memory, which is exactly what this variant removes. The
    // only broadcast allowed is the nCentroids-row centroid table
    // feeding the routing cross joins.
    assert(p.contains("SortMergeJoin"),
      "candidate join must be a shuffle merge join:\n" +
        p.linesIterator.take(30).mkString("\n"))
    val joins = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joins.isEmpty,
      s"no equi-join may broadcast the probe side: $joins")
    // results are identical to the broadcast-shaped variant
    val big = pipeline.Similarity.ivfTopKBig(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0),
      "vec_id", "embedding", 3, nCentroids = 16, nProbe = 4)
      .collect().toSet
    val small = pipeline.Similarity.ivfTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0),
      "vec_id", "embedding", 3, nCentroids = 16, nProbe = 4)
      .collect().toSet
    assert(big == small, "big-query-set variant must be result-identical")
  }

  test("ANN decontamination broadcasts only the bench lists; " +
    "probe routing is a row-local projection") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val p = plan(pipeline.Decontaminate.semanticContaminationReportAnn(
      emb, "vec_id", "embedding",
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 23 === 0),
      "vec_id", "embedding", minSim = 0.25, nCentroids = 8, nProbe = 2))
    // the corpus side must stream through a broadcast equi-join against
    // the (bench-sized) inverted lists — never be broadcast, shuffled
    // into a merge join, or cross-joined
    assert(p.contains("BroadcastHashJoin"), "lists must broadcast-join")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle to join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs shape anywhere in the ANN path")
    // probe selection is an argsort over centroid literals — a pure
    // projection; the generic rank-window router would show up here as
    // a Window over the full corpus
    assert(!p.contains("Window"), "probe routing must not rank-window")
    // formatted explain shows each node twice (tree + details); count
    // the "(N) BroadcastExchange" detail headers only
    val bcasts = p.linesIterator
      .count(l => l.trim.matches("""\(\d+\) BroadcastExchange.*"""))
    assert(bcasts == 1, s"exactly the list table broadcasts, got $bcasts")
  }

  test("bucketed candidate generation never degenerates to a cross join") {
    val docs = queries.PipelineQueries.docsAug(spark, TestSpark.sf).limit(500)
    for ((name, df) <- Seq(
        "minhash" -> pipeline.Dedup.minhashPairs(docs, "doc_id", "text"),
        "simhash" -> pipeline.Dedup.simhashPairs(docs, "doc_id", "text"),
        "jaccard" -> pipeline.Dedup.jaccardPairs(docs, "doc_id", "text"))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name must bucket-join")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name must equi-join")
    }
  }

  test("hash split and redaction are shuffle-free projections") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val split = pipeline.Curation.hashSplit(docs, "doc_id")
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"),
      "split assignment must not shuffle")
    val red = docs.select(
      pipeline.TextAnalysis.redactPii(
        org.apache.spark.sql.functions.col("text")))
    assert(!red.queryExecution.executedPlan.toString.contains("Exchange"),
      "redaction must not shuffle")
  }

  test("IVF assignment is a projection - no aggregate, no row inflation") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val p = plan(pipeline.Similarity.ivfTopK(
      emb, emb.limit(5), "vec_id", "embedding", 3,
      nCentroids = 4, nProbe = 2))
    // exactly the aggregates the top-k itself needs appear; the corpus->
    // centroid assignment contributes none (it is array_max over literals)
    assert(!p.contains("max_by"), "no max_by aggregation in assignment")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs == 0, s"no hash aggregates expected in IVF plan, got $aggs")
  }

  test("asofJoin plans as union+window: no join node, key-partitioned") {
    val p = plan(queries.TemporalQueries
      .q53AsOfAttribution(spark, TestSpark.sf))
    assert(!p.contains("Join"), "asof must not plan a join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "carry-forward window expected")
    assert(p.contains("hashpartitioning(user_id"),
      "window must partition on the key, not a global sort")
  }

  test("bandJoin is a bucketed equi-join - no cross product, no range fanout") {
    val p = plan(queries.TemporalQueries
      .q54BandConversion(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "band join must stay an equi-join on (key, bucket)")
    assert(p.contains("__bucket"), "bucket key present in the join")
  }

  test("winnowing fingerprinting is a pure projection - zero shuffles") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val fp = docs.select(pipeline.Winnowing
      .fingerprintSet(org.apache.spark.sql.functions.col("text"), 8, 4))
    assert(!fp.queryExecution.executedPlan.toString.contains("Exchange"),
      "fingerprintSet must not shuffle")
  }

  test("tf-idf pairs: inverted-index equi-join on the token, no cross product") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val p = plan(pipeline.TfIdf.cosinePairs(docs, "doc_id", "text",
      minSim = 0.3, maxDocFreq = 50))
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop joins allowed are the broadcasts of the 1-row
    // corpus-count aggregate: one per self-join branch, each listed twice
    // by the formatted explain (tree + node details)
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 4, s"token self-join must stay an equi-join:\n${p.take(1500)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "token join must be an equi-join")
  }

  test("sequence packing shuffles once on the bucket, never globally sorts") {
    val p = plan(pipeline.Curation.packSequences(
      Tables.documents(spark, TestSpark.sf), "doc_id", "text", 512, 8))
    assert(p.contains("hashpartitioning(bucket"),
      "window must partition on the hash bucket")
    assert(!p.contains("SinglePartition"), "no single-partition funnel")
  }

  test("LogID assignment sort is range-partitioned, not single-partition") {
    val bh = graft.etl.BackupHistoryDerivation
      .canonicalFrame(spark, TestSpark.sf).drop("LogID")
    import org.apache.spark.sql.functions.col
    val sorted = bh
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("backup_finish_date"), col("database_name"), col("last_lsn"),
        col("physical_device_name"))
      .sortWithinPartitions("backup_finish_date")
    val p = sorted.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      s"range partitioning expected:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"), "no single-partition funnel")
  }

  test("boilerplate anti-join broadcasts the df-filtered line set") {
    val p = plan(queries.PipelineQueries.q62Boilerplate(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "boilerplate set must broadcast to the exploded lines")
    assert(!p.contains("SortMergeJoin"),
      "the exploded line relation must never sort-merge")
  }

  test("decontamination broadcasts the benchmark gram set") {
    val p = plan(queries.PipelineQueries.q63Decontaminate(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"),
      "benchmark grams must broadcast; the corpus streams once")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("curation pipeline: dedup is an aggregate; one window total") {
    val p = plan(queries.CurationQueries
      .q98CurationPipeline(spark, TestSpark.sf))
    // keep-first dedup must be the combinable min(struct) aggregate, so
    // the only Window in the whole composed pipeline is the per-domain
    // budget cutoff (formatted explain prints each node twice: tree +
    // detail)
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"expected exactly one Window node:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("bm25: query terms broadcast onto the inverted index, no cartesian") {
    val p = plan(queries.ProfileQueries.q95Bm25TopK(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"),
      "query terms must broadcast onto the (id, token, tf) index")
    assert(!p.contains("CartesianProduct"))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "top-k must bound per-query state map-side")
  }

  test("JL projection folds rewrite to the codegen'd dot product") {
    plans.GraftExtensions.install(spark)
    val p = plan(queries.CurationQueries
      .q86RandomProjection(spark, TestSpark.sf))
    // every output component's zip_with/aggregate fold must have been
    // rewritten by RewriteHofDotProduct — an interpreted HOF ladder here
    // is 16 per-row lambda interpreters on the corpus scan
    assert(!p.contains("aggregate(zip_with"),
      "unrewritten HOF fold left in the projection")
    assert(p.contains("dotproduct"), "vec_dot rewrite did not fire")
  }

  test("rank-filter queries plan map-side WindowGroupLimit, not full sort") {
    val p = plan(queries.RelationalQueries
      .q03TopOrdersPerCustomer(spark, TestSpark.sf))
    // rank(...) <= k must become partial+final WindowGroupLimit (per-key
    // bounded heaps BEFORE the shuffle) — a silent regression to a plain
    // Window over fully-sorted partitions is the 100-TB failure mode
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit:\n${p.take(600)}")
  }

  test("bloom decontamination probes inside the scan stage, then broadcasts") {
    val p = plan(queries.PipelineQueries
      .q87BloomDecontaminate(spark, TestSpark.sf))
    // the serialized bloom is a literal probed per-gram BEFORE the join —
    // the corpus side that reaches the exact confirm join is pre-thinned
    assert(p.contains("might_contain"),
      "bloom probe must appear as a filter predicate")
    assert(p.contains("BroadcastHashJoin"),
      "the exact confirm must stay a broadcast join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ivf-pq: candidate generation is a broadcast equi-join on the list id") {
    val p = plan(queries.PipelineQueries.q84IvfPqTopK(spark, TestSpark.sf))
    // probed lists broadcast and join candidates on cid; nothing scans
    // corpus x queries
    assert(p.contains("BroadcastHashJoin"),
      "candidates must come from an equi-join on the probed list id")
    assert(!p.contains("CartesianProduct"))
  }

  test("semantic decontamination broadcasts the benchmark vectors") {
    val p = plan(queries.SimilarityQueries
      .q83SemanticDecontaminate(spark, TestSpark.sf))
    // benchmark side broadcast (nested-loop: the pair filter is not an
    // equi-key), best-match via partial-aggregable max — never a shuffled
    // pair set, never a window over the pairs
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "benchmark vectors must broadcast; the corpus streams once")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "argmax must be an aggregate, not a window")
  }

  test("kmeans final assignment is a join-free projection over one scan") {
    val asg = pipeline.Similarity.kmeansAssign(
      Tables.embeddings(spark, TestSpark.sf), "vec_id", "embedding",
      k = 8, iters = 1)
    val p = plan(asg)
    // centroids enter as literals: no join, no aggregate, no shuffle in
    // the assignment the corpus-sized pass actually pays for
    assert(!p.contains("Join"), "assignment must not plan a join")
    assert(!p.contains("HashAggregate"), "assignment must not aggregate")
    assert(!p.contains("Exchange"), "assignment must not shuffle")
  }

  test("hashed linear classifier is one shuffle-free projection over the scan") {
    val p = plan(Tables.documents(spark, TestSpark.sf).select(
      org.apache.spark.sql.functions.col("doc_id"),
      pipeline.TextAnalysis.hashedLinearScore(
        org.apache.spark.sql.functions.col("text"), 4096, "qc").as("s")))
    // HOF lambdas are CodegenFallback, so the projection is interpreted —
    // but it must stay exactly one Project over the parquet scan: no
    // shuffle, no join, no aggregate
    assert(!p.contains("Exchange") && !p.contains("Join"))
    assert(!p.contains("HashAggregate"))
    // one scan node (formatted explain prints it twice: tree + detail)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1)
  }

  test("epoch mix is a shuffle-free generate; weighted sample takes ordered") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.sf)
    val mix = pipeline.Curation.epochMix(docs.select("doc_id", "source"),
      "doc_id", "source", Map("src0" -> 2.5), defaultEpochs = 1.0)
    val pm = plan(mix)
    assert(!pm.contains("Exchange") && !pm.contains("Join"),
      "epochMix must be a row-local fan-out")
    val ws = pipeline.Curation.weightedSample(
      docs.select(col("doc_id"), lit(1.0).as("w")), "doc_id", col("w"), 5)
    val pw = plan(ws)
    // global top-k must be per-partition heaps + driver merge, never a
    // full distributed sort
    assert(pw.contains("TakeOrderedAndProject"),
      s"weightedSample should plan TakeOrdered:\n${pw.take(400)}")
  }

  test("perplexity tiering: exactly one Window (the per-language rank cut)") {
    val p = plan(pipeline.Curation.perplexityTiers(
      graft.Tables.documents(spark, TestSpark.sf)
        .select("doc_id", "lang", "text"),
      "doc_id", "text", "lang"))
    // the KN scoring side must stay pure aggregations — only the
    // percent_rank cut is allowed to window
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"expected exactly one Window node:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("session funnel: one sessionization window, no joins") {
    val p = plan(queries.StreamQueries
      .q124SessionFunnel(spark, TestSpark.sf))
    // lag and the running sum carry different frames -> two Window
    // nodes, but they share one partitioning (a single exchange); the
    // gate is that nothing ELSE windows and stages never join
    assert("""\(\d+\) Window""".r.findAllIn(p).size <= 2,
      s"unexpected extra Window nodes:\n${p.take(600)}")
    assert(!p.contains("Join"), "funnel stages fold in aggregation, not joins")
  }

  test("corpus card: one scan, rollup expand, no joins") {
    val p = plan(queries.CurationQueries
      .q129CorpusCard(spark, TestSpark.sf))
    assert("""\(\d+\) Scan""".r.findAllIn(p).size == 1,
      s"one pass over the corpus:\n${p.take(600)}")
    assert(p.contains("Expand"), "rollup plans the Expand node")
    assert(!p.contains("Join"))
  }

  test("hashed embedding is a join-free, window-free projection") {
    val p = plan(queries.CurationQueries
      .q136HashedEmbedding(spark, TestSpark.sf))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"featurization must stay row-local:\n${p.take(600)}")
  }

  test("PlanAudit flags interpreted operators; a codegen'd pipeline counts zero") {
    import org.apache.spark.sql.functions._
    // fully codegen'd projection+filter over parquet → no interpreted
    // codegen-capable operators in the executed plan
    val clean = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), length(col("text")).as("n"))
    clean.count()
    assert(graft.plans.PlanAudit.interpretedNodes(clean) == 0L,
      clean.queryExecution.executedPlan.toString.take(800))
    // a deliberately interpreted expression (HOF lambdas are
    // CodegenFallback) keeps every stage boundary but kicks its Project
    // out of the whole-stage span — the canary the stage-count drift
    // check is blind to (the q91 regression shape)
    val interp = Tables.documents(spark, TestSpark.sf).select(
      col("doc_id"),
      pipeline.TextAnalysis.hashedLinearScore(col("text"), 512, "qc").as("s"))
    interp.count()
    assert(graft.plans.PlanAudit.interpretedNodes(interp) > 0L,
      interp.queryExecution.executedPlan.toString.take(800))
  }

  test("PlanAudit on a shuffle-bearing (AQE) query: audits the plan that " +
    "executed, refuses the frame's unfinalized one") {
    import org.apache.spark.sql.functions._
    // groupBy forces an exchange → the frame is AQE-wrapped, the shape
    // the bench actually audits (the exchange-free cases above bypass
    // AQE entirely and would pass even with the audit broken)
    val agg = Tables.documents(spark, TestSpark.sf)
      .groupBy(col("lang")).agg(sum(length(col("text"))).as("n"))
    val capture = graft.plans.ExecutedPlanCapture.install(spark)
    try {
      val mark = capture.mark()
      agg.count()
      val executed = capture.awaitLastSince(mark)
      assert(executed.nonEmpty, "execution listener never fired")
      assert(executed.get.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        s"expected an AQE plan:\n${executed.get.toString.take(400)}")
      // the captured count-plan is finalized and fully codegen'd
      assert(graft.plans.PlanAudit.interpretedNodes(executed.get) == 0L,
        executed.get.toString.take(800))
      // the frame's OWN AdaptiveSparkPlanExec never ran (count() plans a
      // separate QueryExecution): the audit must return the -1 sentinel,
      // not count every operator as interpreted (the r15 bogus-canary bug)
      val own = agg.queryExecution.executedPlan
      if (own.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
        assert(graft.plans.PlanAudit.interpretedNodes(own) == -1L,
          s"unfinalized AQE plan must not yield a count:\n${own.toString.take(400)}")
    } finally spark.listenerManager.unregister(capture)
  }

  test("unigram seed relation filters the hapax tail in-plan, before collect") {
    import spark.implicits._
    val words = Seq(("abab", 5L), ("ac", 1L)).toDS()
    val rel = pipeline.Unigram.seedRelation(spark, words,
      maxPieceLen = 4, minSeedCount = 2L)
    val p = plan(rel)
    // the keep-predicate must be a Filter node in the physical plan —
    // i.e. evaluated executor-side above the HashAggregate — so the
    // substring hapax tail never crosses to the driver
    assert("""\(\d+\) Filter""".r.findAllIn(p).nonEmpty,
      s"seed keep-predicate must be in-plan:\n${p.take(800)}")
    assert(p.contains("cnt") && p.contains("length"),
      s"filter must carry the cnt/length predicate:\n${p.take(800)}")
    assert(p.contains("HashAggregate"), "seed counts are a combinable agg")
  }
}
