package graft

import graft.ext.Clustering

/** K-topic LDA / PLSA / online LDA at K = 3: each must separate a
  * three-vocabulary planted corpus; the K = 2 seed text must carry the
  * 250000/750000 split. The K = 2 rows' behaviour is covered by
  * ClusteringSpec's plsa, smoothed lda and online lda tests. */
class LdaKSpec extends SparkSpec {

  // three disjoint-vocabulary document groups with a shared stopword
  private def docs = {
    import spark.implicits._
    (1L to 36L).map { i =>
      val words = (i % 3) match {
        case 0 => Seq("ale", "bock", "stout", "porter")
        case 1 => Seq("cider", "perry", "mead", "braggot")
        case _ => Seq("kvass", "sima", "boza", "chicha")
      }
      val body = (0 until 6).map(j => words((i.toInt + j) % 4)) :+ "the"
      (i, body.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("seed fraction text at K = 2 carries the legacy 250000/750000 split") {
    // value-identity with the legacy arithmetic form, checked over both
    // parities through the engine
    import spark.implicits._
    val got = Seq(0L, 1L, 2L, 3L).toDF("did")
      .selectExpr("did", s"${Clustering.ldaSeedFracExpr(2, 1)} AS f",
        "(250000 + ((did % 2) * 500000)) AS legacy")
      .collect()
    got.foreach(r => assert(r.getInt(1).toLong === r.getLong(2)))
  }

  test("ldaTopicsK at K = 3 separates three planted vocabularies") {
    val out = Clustering.ldaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 4, topK = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // per topic, the top-4 tokens must be dominated by ONE planted
    // vocabulary (the shared stopword may take one slot)
    val vocabs = Seq(Set("ale", "bock", "stout", "porter"),
      Set("cider", "perry", "mead", "braggot"),
      Set("kvass", "sima", "boza", "chicha"))
    val byTopic = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet)
    val owners = (1L to 3L).map { t =>
      val toks = byTopic(t)
      vocabs.zipWithIndex.maxBy { case (v, _) => (v & toks).size }._2
    }
    assert(owners.toSet.size === 3, s"each topic must own a distinct vocabulary: $owners")
    intercept[IllegalArgumentException](
      Clustering.ldaTopicsK(docs, "doc_id", "text", kTot = 7))
  }

  test("onlineLdaTopicsK at K = 3: three topics, lambda moved off every seed, deterministic") {
    val out = Clustering.onlineLdaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 2, topK = 8)
      .orderBy("topic", "rnk").collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // the blend moved lambda off the two seed levels (1e6 / 1.5e6)
    assert(out.exists(r => r.getLong(3) != 1000000L && r.getLong(3) != 1500000L))
    assert(out.forall(_.getLong(3) > 0L))
    val again = Clustering.onlineLdaTopicsK(docs.repartition(7), "doc_id", "text",
      kTot = 3, iters = 2, topK = 8).orderBy("topic", "rnk").collect()
    assert(again.toSeq === out.toSeq)
  }

  test("plsaTopicsK at K = 3 separates three planted vocabularies") {
    val out = Clustering.plsaTopicsK(docs, "doc_id", "text", kTot = 3, iters = 4, topK = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    val vocabs = Seq(Set("ale", "bock", "stout", "porter"),
      Set("cider", "perry", "mead", "braggot"),
      Set("kvass", "sima", "boza", "chicha"))
    val byTopic = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet)
    val owners = (1L to 3L).map { t =>
      vocabs.zipWithIndex.maxBy { case (v, _) => (v & byTopic(t)).size }._2
    }
    assert(owners.toSet.size === 3, s"each topic must own a distinct vocabulary: $owners")
  }
}
