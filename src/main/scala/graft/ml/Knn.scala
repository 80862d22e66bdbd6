package graft.ml

import graft.functions.Exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** kNN classifier (SURVEY.md §2.3 J3 + §2.5 T2 + §2.4 A8): broadcast
  * cross-join similarity kernel → per-query top-k → majority vote.
  *
  * The reference loads the whole train matrix into every task's heap
  * (KNNMapper.java:52-74) and hand-maintains a k-best array (:147-159).
  * Here the train side is an explicit `broadcast` (Spark plans a
  * BroadcastNestedLoopJoin — the same replicated-join shape, but spillable
  * and columnar), and top-k is the engine's bounded heap ([[TopK.topK]]),
  * which carries each neighbor's label through the ranking. The test side
  * streams through the join on every core: it is hash-partitioned on the
  * query id into `defaultParallelism` partitions first (see [[spread]]); a
  * one-row-group parquet file would otherwise be one task.
  *
  * Scale path: for train sets beyond broadcast size, swap the kernel for the
  * LSH-bucketed candidate join ([[classifyLsh]]) — same downstream
  * top-k/vote plan.
  *
  * Similarities are rounded to 6 dp *before* ranking so that rank order (and
  * therefore the result set) is identical across engines and run-to-run; ties
  * break on neighbor id.
  */
object Knn {

  /** Top-k neighbors of each test row among train rows by cosine similarity
    * over double-array `vec` columns. Output: (q_id, n_id, n_label, sim, rk). */
  def neighbors(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    TopK.topK(spread(test.select(col("id").as("q_id"), col("vec").as("q_vec"))),
      train.select(col("id").as("n_id"), col("label").as("n_label"), col("vec").as("n_vec")),
      k, TopK.Cosine)

  /** Top-k neighbors over sparse MapType(idx → weight) feature columns — the
    * reference's own vector representation (KNNMapper.java:20). Same plan
    * shape as [[neighbors]], score swapped for [[TopK.SparseCosine]]. */
  def neighborsSparse(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    TopK.topK(spread(test.select(col("id").as("q_id"), col("features").as("q_vec"))),
      train.select(col("id").as("n_id"), col("label").as("n_label"), col("features").as("n_vec")),
      k, TopK.SparseCosine)

  /** The query side of a broadcast cross-join, spread over all cores. The
    * join does |test|×|train| work in the tasks of the test side's stage, so
    * the test side is hash-partitioned on `q_id` into `defaultParallelism`
    * partitions: the shuffle moves |test| rows, and the per-query top-k
    * heap and the vote, both clustered on `q_id`, need no further
    * exchange. AQE does not coalesce a repartition by number. */
  private def spread(t: DataFrame): DataFrame =
    t.repartition(t.sparkSession.sparkContext.defaultParallelism, col("q_id"))

  /** The engine's one kNN rank window: it ranks string labels by vote
    * count, not LONG ids, so the heap's (score, id) order does not apply. */
  private def vote(nbrs: DataFrame): DataFrame = {
    val votes = nbrs.groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("votes"))
    val byVotes = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("n_label").asc)
    votes.withColumn("rn", row_number().over(byVotes)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_label").as("pred"))
  }

  /** Majority vote over the k neighbors (A8): most votes, then highest total
    * similarity is *not* used (the reference votes by count only,
    * KNNMapper.java:161-184) — ties break on smallest label. */
  def classify(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    vote(neighbors(test, train, k))

  /** [[classify]] over sparse MapType feature vectors. */
  def classifySparse(test: DataFrame, train: DataFrame, k: Int): DataFrame =
    vote(neighborsSparse(test, train, k))

  /** The kNN plan for train sets beyond broadcast size — the scale path the
    * Scaladoc above names, wired end-to-end: sign-LSH buckets generate the
    * candidate pairs (both sides hashed with the same deterministic
    * (rep, plane, dim) hyperplanes from [[graft.operators.Similarity]]), the
    * bounded-heap [[TopK.ranked]] ranks them so at most k rows per query
    * survive partial aggregation, and the same A8 majority [[vote]] picks the
    * label. Every join is equi-key (bucket, then id): nothing is broadcast or
    * replicated, so the plan holds when train is 100 TB.
    *
    * Approximate by design: a true neighbor sharing no bucket in any of the
    * `reps` repetitions is missed. To keep recall high without extra passes
    * over the (large) train side, the QUERY side multi-probes: each query
    * also checks the `planes` buckets at Hamming distance 1 from its own
    * signature (Lv et al., "Multi-Probe LSH", VLDB'07). A neighbor whose
    * signature differs in ≤1 bit still collides, which raises per-rep
    * collision probability roughly (1 + planes·(1-p)/p)× at the cost of
    * (planes+1)× more QUERY bucket rows — the train side, the side that is
    * 100 TB, is hashed exactly once per rep. q67 oracle-checks prediction
    * agreement against the exact broadcast path as an invariant (q50's
    * pattern). Contract: fixed-dimension `vec` columns (dim is peeked from
    * one train row, same as [[graft.operators.Similarity.lshTopK]]). */
  def classifyLsh(test: DataFrame, train: DataFrame, k: Int,
                  planes: Int = 5, reps: Int = 10): DataFrame = {
    import graft.operators.Similarity
    // both frames feed a bucket branch and a re-rank join → pin; the caller
    // releases via graft.Caching.release() once the result is consumed
    // norms ride the pins: computed once per vector at materialization, so
    // the re-rank join pays one dot per candidate pair instead of three
    // (sims bit-identical — Exprs.cosinePre)
    val t = graft.Caching.pin(
      test.select(col("id").as("q_id"), col("vec").as("q_vec"))
        .withColumn("q_nrm", vnorm(col("q_vec"))))
    val tr = graft.Caching.pin(
      train.select(col("id").as("n_id"), col("label").as("n_label"), col("vec").as("n_vec"))
        .withColumn("n_nrm", vnorm(col("n_vec"))))
    val first = tr.select(size(col("n_vec")).as("d")).head(1)
    require(first.nonEmpty, "classifyLsh: empty train set")
    val dim = first.head.getInt(0)
    def buckets(df: DataFrame, idCol: String, vecCol: String, probe: Boolean): DataFrame =
      Similarity.lshBuckets(df.select(col(idCol), Similarity.quantize(col(vecCol)).as("qv")),
        idCol, planes, reps, dim, probe)
    val cand = buckets(t, "q_id", "q_vec", probe = true)
      .join(buckets(tr, "n_id", "n_vec", probe = false), "bucket")
      // ids only through the distinct shuffle — vectors re-attach below
      .select(col("q_id"), col("n_id")).distinct()
    // the label rides the heap to the vote: no join after ranking
    val scored = cand
      .join(t, "q_id")
      .join(tr, "n_id")
      .select(col("q_id"), col("n_id"), col("n_label"), TopK.Cosine.ranking.as("sim"))
    vote(TopK.ranked(scored, Seq("q_id"), "n_id", "sim", k))
  }
}
