package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.VectorExpressions
import graft.ops.{Dedup, Similarity, TextOps, VectorIndex}
import graft.store.{BucketedState, Store}
import graft.tools.ScaleData

/** The curation operators over a seeded synthetic corpus.
  *
  * `ScaleData.documents` plants exact and near-duplicate pairs and
  * `ScaleData.embeddings` plants near-duplicate twins, so recall is known.
  * Both have [[Docs]] rows.
  * One pass runs the three text dedups, semantic dedup, IVF top-k, an IVF
  * index build and search through the store, an incremental ingest of
  * the corpus in four batches against `BucketedState` signature slices,
  * with each slice's write and a compaction after every second batch. The
  * traced run also times the registry's lifecycle queries in [[Queries]]
  * over the same corpus written as `documents.parquet` and
  * `embeddings.parquet`.
  */
final class CurationScale(spark: SparkSession, seed: Long) {
  import CurationScale._

  private var store: Store = _
  private var dir, root: Path = _
  /** The measured corpus, and a smaller one built the same way that the
    * warm-up pass runs on: the operators' plans over the two cached frames
    * are the same, so JIT and codegen warm up at a fraction of the cost.
    */
  private var full, small, cur: Corpus = _
  private var passNo = 0
  /** Each operator call's result rows, from the latest pass. */
  private val outputs = scala.collection.mutable.Map.empty[String, Array[Row]]
  private val schemas = scala.collection.mutable.Map.empty[String, StructType]

  /** Generate both corpora and start a fresh store in `dir/store`. */
  def setup(dir: Path): Unit = {
    Seq(full, small).filter(_ != null).foreach(_.unpersist())
    this.dir = dir
    root = dir.resolve("store")
    store = new Store(spark, root.toString)
    full = corpus(Docs)
    small = corpus(WarmDocs)
    Trace.add("corpus", "text_bytes" ->
      full.docs.agg(sum(length(col("text")))).head().getLong(0))
    passNo = 0
  }

  private def corpus(n: Long): Corpus = {
    val c = Corpus(ScaleData.documents(spark, n, seed).repartition(Parts).cache(),
      ScaleData.embeddings(spark, n, seed = seed).repartition(Parts).cache())
    c.docs.count(); c.embs.count(); c.queries.count()
    c
  }

  /** One untimed pass over the small corpus. */
  def warmup(): Unit = {
    cur = small
    try pass(0L) finally cur = full
  }

  /** Run one operator call as a span; its result is collected, as a caller
    * consuming it would, and kept for the output checks.
    */
  private def run(name: String, key: String, parent: Long)(df: => DataFrame): Unit =
    outputs(key) = Trace.span(name, parent)(df.collect())

  /** One timed pass; returns the number of operator calls it made. */
  def pass(parent: Long): Int = {
    passNo += 1
    val Corpus(docs, embs) = cur
    val queries = cur.queries
    def op(name: String)(df: => DataFrame): Unit = run(name, name, parent)(df)
    op("ops.minhash")(Dedup.dedupByMinhash(docs, "doc_id", "text"))
    op("ops.jaccard")(Dedup.dedupByJaccard(docs, "doc_id", "text"))
    op("ops.simhash")(Dedup.simhashNearDupPairs(docs, "doc_id", "text"))
    op("ops.semdedup")(Similarity.semDedup(embs, "vec_id", "embedding", SemThreshold))
    op("ops.ivf_topk")(Similarity.ivfTopK(embs, queries, "vec_id", "embedding", K))
    val index = s"idx/p$passNo"
    Trace.span("ops.ivf_build", parent)(
      VectorIndex.buildIvf(store, embs, "vec_id", "embedding", index))
    // The queries in SearchGroups calls, as separate callers would send them.
    (0 until SearchGroups).foreach { g =>
      run("ops.ivf_search", s"ops.ivf_search.$g", parent)(VectorIndex.searchIvf(store, index,
        queries.where(pmod(col("vec_id"), lit(QueryEvery * SearchGroups)) === g * QueryEvery),
        "vec_id", "embedding", K))
    }
    val calls = 6 + SearchGroups + ingest(parent, s"dedup/sigs_p$passNo")
    // Keep one index and one signature state on disk, so passes stay alike.
    if (passNo > 1) {
      store.drop(s"idx/p${passNo - 1}/centroids")
      store.drop(s"idx/p${passNo - 1}/assignments")
      Main.deleteTree(java.nio.file.Paths.get(statePath(s"dedup/sigs_p${passNo - 1}")))
    }
    calls
  }

  /** The corpus in four batches, each deduplicated against the signature
    * slices of the batches before it (listed as `state.list`) and then
    * written as a slice. The slices are compacted after every second batch.
    */
  private def ingest(parent: Long, state: String): Int = {
    val root = statePath(state)
    val docs = cur.docs
    (0 until Batches).foreach { b =>
      val batch = docs.where(pmod(col("doc_id"), lit(Batches.toLong)) === b)
      val prev = Trace.span("state.list", parent)(BucketedState.slices(spark, root))
      run("ops.incremental", s"ops.incremental.$b", parent)(
        Dedup.dedupIncrementalSliced(batch, prev, "doc_id", "text"))
      Trace.span("state.write", parent)(BucketedState.write(
        Dedup.shingleSignatures(batch, "doc_id", "text"), root, s"b$b", "s", StateBuckets))
      if (b % 2 == 1) Trace.span("state.compact", parent)(
        BucketedState.compact(spark, root, s"c$b", "s", StateBuckets))
    }
    3 * Batches + Batches / 2
  }

  /** Recall of the planted pairs and of exact top-k, over the last timed
    * pass's outputs.
    */
  private def recall(): Unit = {
    def kept(keys: String*): Set[Long] =
      keys.flatMap(k => outputs(k).map(_.getAs[Long]("doc_id"))).toSet
    // A planted pair is found when exactly one of its documents is kept: an
    // operator that drops both (or everything) finds nothing.
    def collapsed(k: Set[Long]): Double =
      Planted.count { case (a, b) => k(a) != k(b) }.toDouble / Planted.size
    val pairs = outputs("ops.simhash")
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    val dedup = Map(
      "minhash" -> collapsed(kept("ops.minhash")),
      "jaccard" -> collapsed(kept("ops.jaccard")),
      "simhash" -> Planted.count(pairs.contains).toDouble / Planted.size,
      "incremental" -> collapsed(kept((0 until Batches).map(b => s"ops.incremental.$b"): _*)))
    Trace.add("recall", "dedup" -> dedup, "planted_pairs" -> Planted.size)
    val exact = topK(Similarity.topKPerQuery(full.embs, full.queries, "vec_id", "embedding", K)
      .collect())
    def annRecall(got: Map[Long, Set[Long]]): Double =
      exact.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size.toDouble / want.size }
        .sum / exact.size
    val searched = (0 until SearchGroups).flatMap(g => outputs(s"ops.ivf_search.$g")).toArray
    val ann = Map(
      "ivf_topk" -> annRecall(topK(outputs("ops.ivf_topk"))),
      "ivf_search" -> annRecall(topK(searched)))
    Trace.add("recall", "ann" -> ann, "queries" -> exact.size)
    // Identical texts have Jaccard 1 and identical signatures: the one-shot
    // dedups must keep exactly one document of every planted exact pair.
    Seq("ops.minhash", "ops.jaccard").foreach { op =>
      val k = kept(op)
      val missed = ExactPairs.filter { case (a, b) => k(a) == k(b) }
      Trace.add("check", "what" -> s"$op keeps exactly one of every exact duplicate pair",
        "ok" -> missed.isEmpty, "detail" -> s"missed ${missed.take(5)} of ${ExactPairs.size}")
    }
    // Each dedup drops at most the planted duplicates and a few chance
    // near-duplicates of the generator's Zipf text: an operator that drops
    // more is over-deleting, whatever its recall.
    val incremental = (0 until Batches).map(b => s"ops.incremental.$b")
    Seq("ops.minhash" -> Seq("ops.minhash"), "ops.jaccard" -> Seq("ops.jaccard"),
      "ops.incremental" -> incremental).foreach { case (op, keys) =>
      val n = kept(keys: _*).size
      val floor = Docs - Planted.size - KeptSlack
      Trace.add("check", "what" -> s"$op keeps at least Docs - planted duplicates - $KeptSlack",
        "ok" -> (n >= floor && n <= Docs), "detail" -> s"kept $n, floor $floor",
        "kept" -> n)
    }
    Seq("ops.ivf_topk" -> outputs("ops.ivf_topk"), "ops.ivf_search" -> searched).foreach {
      case (op, rows) =>
        val got = topK(rows)
        val ok = got.size == exact.size && got.forall { case (q, ids) =>
          ids.size == K && !ids.contains(q) && ids.forall(i => i >= 0 && i < Docs) }
        Trace.add("check", "what" -> s"$op returns $K neighbours per query", "ok" -> ok,
          "detail" -> s"${got.size} queries of ${exact.size}")
    }
  }

  /** Signature state lives beside the store's tables, under its root. */
  private def statePath(name: String): String = root.resolve(name + ".bstate").toString

  private def topK(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }

  /** Per-layer measurements only the traced run makes. */
  def traced(): Unit = {
    val Corpus(docs, embs) = full
    precision("minhash", Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
    precision("simhash", Dedup.simhashCandidatePairs(
      docs.select(col("doc_id").as("id"),
        VectorExpressions.simhash64(TextOps.tokens(col("text"))).as("fp")), 3))
    kernels()
    lifecycleQueries()
  }

  private def tables(c: Corpus): Path = dir.resolve(if (c eq full) "tables" else "tables_warm")

  /** Each query in [[Queries]] once over the warm-up corpus, untimed, for
    * JIT and codegen, then once over the measured corpus as a span. The
    * corpora are written in the fixture layout the queries read.
    */
  private def lifecycleQueries(): Unit = {
    Seq(full, small).foreach { c =>
      c.docs.write.parquet(tables(c).resolve("documents.parquet").toString)
      c.embs.write.parquet(tables(c).resolve("embeddings.parquet").toString)
    }
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, tables(small).toString).collect()
      Trace.span(s"query.$q") {
        val df = SparkEntry.queries(q)(spark, tables(full).toString)
        schemas(q) = df.schema
        outputs(q) = df.collect()
      }
    }
  }

  /** Candidate pairs whose exact word-trigram Jaccard reaches the
    * threshold, over all candidates the operator returned.
    */
  private def precision(name: String, candidates: DataFrame): Unit = {
    val cands = candidates.collect().map(r => (r.getLong(0), r.getLong(1)))
    val text = full.docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(s: String): Set[String] = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val ok = cands.count { case (a, b) =>
      val (x, y) = (grams(text(a)), grams(text(b)))
      (x & y).size.toDouble / (x | y).size >= 0.7
    }
    Trace.add("precision", "op" -> name, "candidates" -> cands.length, "verified" -> ok)
  }

  /** ns/row of each public column function over a cached frame into the
    * `noop` sink, net of the same scan with an identity projection.
    */
  private def kernels(): Unit = {
    val Corpus(docs, embs) = full
    val reps = spark.range(KernelRepeat).select(col("id").as("rep"))
    val text = docs.crossJoin(reps).select(col("text"))
      .withColumn("tok", TextOps.tokens(col("text")))
      .withColumn("sh", VectorExpressions.wordShingles(col("tok"), 3))
      .cache()
    val vecs = embs.crossJoin(reps).select(col("embedding").cast("array<double>").as("v"))
      .cache()
    val kernels = Seq(
      ("dot", vecs, VectorExpressions.dotD(col("v"), col("v")), "v"),
      ("l2_normalize", vecs, VectorExpressions.l2Normalize(col("v")), "v"),
      ("simhash64", text, VectorExpressions.simhash64(col("tok")), "tok"),
      ("minhash_sig", text, VectorExpressions.minhashSignature(col("sh"), 64), "sh"),
      ("shingles", text, VectorExpressions.wordShingles(col("tok"), 3), "tok"),
      ("tokens", text, TextOps.tokens(col("text")), "text"))
    kernels.foreach { case (name, frame, fn, ident) =>
      val n = frame.count()
      def time(c: org.apache.spark.sql.Column): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        frame.select(c.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.min
      val ns = math.max(0.0, time(fn) - time(col(ident))) / n
      Trace.add("kernel", "name" -> name, "ns_per_row" -> ns, "rows" -> n)
    }
    text.unpersist()
    vecs.unpersist()
  }

  /** The lifecycle queries' results, when the traced run made them,
    * written as parquet under `out` for `perfbench/run.py` to compare with
    * each query's oracle SQL in DuckDB over the same input tables.
    */
  private def queryResults(out: Path): Unit = Queries.filter(outputs.contains).foreach { q =>
    val path = out.resolve(q).toString
    spark.createDataFrame(java.util.Arrays.asList(outputs(q): _*), schemas(q))
      .coalesce(1).write.parquet(path)
    Trace.add("query", "name" -> q, "result" -> path, "tables" -> tables(full).toString,
      "rows" -> outputs(q).length, "oracle" -> SparkEntry.oracleSql.get(q))
  }

  /** Output checks and recall, after the window. */
  def check(out: Path): Unit = {
    recall()
    queryResults(out)
  }
}

object CurationScale {
  /** The corpus and its queries (every QueryEvery-th vector). */
  final case class Corpus(docs: DataFrame, embs: DataFrame) {
    val queries: DataFrame = embs.where(pmod(col("vec_id"), lit(QueryEvery)) === 0).cache()
    def unpersist(): Unit = Seq(docs, embs, queries).foreach(_.unpersist())
  }

  val Docs = 1200L
  val WarmDocs = 150L
  val Parts = 4
  val QueryEvery = 6L
  val K = 10
  val SemThreshold = 0.95
  val Batches = 4
  val StateBuckets = 4
  val SearchGroups = 2
  val KernelRepeat = 10L

  /** Lifecycle compositions from the query registry that read only the
    * corpus tables (`documents`, `embeddings`), each with oracle SQL: the
    * folded dedup-state lifecycle and the IVF index churn.
    */
  val Queries: Seq[String] = Seq("qn130_dedup_state_folded", "qn102_index_churn")
  /** Chance near-duplicates allowed beyond the planted ones. */
  val KeptSlack = 12L

  // ScaleData.documents' rule: an exact duplicate copies the body of the
  // document two before it, a near duplicate that of the one before it and
  // appends a word; exact takes precedence. A document whose anchor is
  // itself a duplicate copies a body nobody else has, so it plants nothing.
  private def near(i: Long): Boolean = i > 0 && i % 97 == 1
  private def exact(i: Long): Boolean = i > 1 && i % 193 == 2
  private def anchor(i: Long): Long = if (exact(i)) i - 2 else if (near(i)) i - 1 else i

  /** (anchor, duplicate) pairs whose texts share a body. */
  val Planted: Seq[(Long, Long)] = (0L until Docs)
    .filter(i => anchor(i) != i && anchor(anchor(i)) == anchor(i)).map(i => (anchor(i), i))
  /** Planted pairs whose texts are identical: neither appends a word. */
  val ExactPairs: Seq[(Long, Long)] = Planted.filter { case (a, i) => !near(a) && !near(i) }
}
