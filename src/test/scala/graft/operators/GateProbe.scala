package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off measurement harness for the r16 quality gates: prints the actual
  * recall/precision numbers per approximate operator at a given SF so the
  * gate thresholds are chosen with measured margins, not guesses.
  * Run: sbt "Test/runMain graft.operators.GateProbe /root/testdata/sf0.01" */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = graft.Session.local(graft.Session.cpus(16), logLevel = "ERROR")

    // ---- KNN ANN recall@10 + sim-ratio vs exact brute ---------------------
    val exactDf = Similarity.knnBrute.fn(s, d).persist()
    val exact = exactDf.select("vec_id")
    val exactMean = exactDf.agg(avg("cos_sim")).head().getDouble(0)
    def recall10(name: String, ann: DataFrame): Unit = {
      val a = ann.persist()
      val hits = a.select("vec_id").join(exact, "vec_id").count()
      val annMean = a.agg(avg("cos_sim")).head().getDouble(0)
      println(f"$name%-22s recall@10 = ${hits / 10.0}%.2f  ratio = ${annMean / exactMean}%.4f")
    }
    recall10("knn_ann_lsh", Similarity.annLshTop10(s, d))
    // multi-probe budget sweep: recall/ratio/scan-fraction per flip budget
    locally {
      val qvec = graft.Tables.embeddings(s, d).filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      val n = graft.Tables.embeddings(s, d).count()
      for (f <- Seq(9, 10, 11, 12, 13, 14, 15, 16)) {
        val a = Similarity.annProbe(s, d, qvec, 10, notId = Some(0L), flips = f).persist()
        val hits = a.select("vec_id").join(exact, "vec_id").count()
        val annMean = Option(a.agg(avg("cos_sim")).head().get(0))
          .map(_.asInstanceOf[Double]).getOrElse(0.0)
        val scanned = Similarity.annProbe(s, d, qvec, Int.MaxValue, notId = Some(0L), flips = f).count()
        println(f"  lsh flips=$f%-3d recall@10 = ${hits / 10.0}%.2f  ratio = ${annMean / exactMean}%.4f  scan = ${scanned.toDouble / n}%.3f")
      }
    }
    recall10("knn_ann_ivf", Similarity.annIvfTop10(s, d))
    recall10("knn_ann_hnsw", Hnsw.annHnswTop10(s, d))
    locally {
      val vec = graft.Tables.embeddings(s, d).filter(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0)
        .map(v => v.toDouble.toString).mkString("[", ", ", "]")
      recall10("knn_ann_from_text", graft.surql.SparkPlanner.query(s, d,
        s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
            FROM embeddings WHERE vec_id != 0 AND embedding <|10|> $vec
            ORDER BY cos_sim DESC, vec_id"""))
    }
    // filtered: exact brute among vec_id >= 400
    val emb = graft.Tables.embeddings(s, d)
    val q0 = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    val exactF = emb.filter(col("vec_id") >= 400L)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"),
        Similarity.cosine(col("embedding"), col("qe")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10).select("vec_id")
    val vecF = graft.Tables.embeddings(s, d).filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
      .map(v => v.toDouble.toString).mkString("[", ", ", "]")
    val fhits = graft.surql.SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WHERE vec_id >= 400 AND embedding <|10,80|> $vecF
          ORDER BY cos_sim DESC, vec_id""").select("vec_id")
      .join(exactF, "vec_id").count()
    println(f"knn_ann_filtered       recall@10 = ${fhits / 10.0}%.2f")

    // ---- MinHash gates -----------------------------------------------------
    val est = Dedup.minhashEstimates(s, d).persist()
    val gt = Dedup.jaccardPairs(s, d).select("a", "b")
    val scores = Dedup.jaccardScores(s, d)
    val nGt = gt.count()
    val rec = gt.join(est.filter(col("est_jaccard") >= 0.35), Seq("a", "b")).count()
    val est50 = est.filter(col("est_jaccard") >= 0.5).select("a", "b")
    val nEst50 = est50.count()
    val prec = est50.join(scores.filter(col("jaccard") >= 0.35), Seq("a", "b")).count()
    println(f"minhash  recall(gt j>=.5 in est>=.35) = $rec/$nGt = ${rec.toDouble / nGt}%.3f")
    println(f"minhash  precision(est>=.5 truly j>=.35) = $prec/$nEst50 = ${prec.toDouble / nEst50}%.3f")

    // ---- SimHash gate ------------------------------------------------------
    val sh = Dedup.simhashPairs(s, d).persist()
    for (tau <- Seq(3, 6, 10, 14, 18, 22)) {
      val cand = sh.filter(col("hamming") <= tau).select("a", "b")
      val r = gt.join(cand, Seq("a", "b")).count()
      val n = cand.count()
      val p = cand.join(scores.filter(col("jaccard") >= 0.35), Seq("a", "b")).count()
      println(f"simhash  tau=$tau%-3d recall=${r.toDouble / nGt}%.3f  cand=$n  prec(j>=.35)=${if (n == 0) -1.0 else p.toDouble / n}%.3f")
    }

    // ---- explain output schema --------------------------------------------
    val ex = graft.surql.SparkPlanner.query(s, d,
      """EXPLAIN SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 100000.0 ORDER BY o_orderkey LIMIT 10""")
    println("explain schema: " + ex.schema.treeString)
    ex.collect().foreach(r => println("EXPLAIN> " + r.toString.take(200)))

    s.stop()
  }
}
