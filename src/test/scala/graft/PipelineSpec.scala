package graft

import graft.ext.Pipeline._
import org.apache.spark.sql.functions._

/** Fit/transform separation and stage mechanics of the MLlib Pipeline
  * thin-slice (reference ml/Pipeline.scala): the fitted model is a
  * reusable artifact with inspectable learned parameters, and applying it
  * to NEW data uses the training-time parameters, not the new data's. */
class PipelineSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("hashingTF buckets by the documented (first, mid, last, length) hash") {
    // "ab": first a=97, last b=98, mid pos (2+1) div 2 = 1 -> 'a' 97, len 2
    // 97*97 + 98*31 + 97*13 + 2*7 = 13722; 13722 % 32 = 26
    val out = HashingTF("toks", "tf", 32)
      .transform(docs(1L -> "x").withColumn("toks", array(lit("ab"))))
      .select(expr("tf[26]"), expr("aggregate(tf, 0.0D, (a, x) -> a + x)"))
      .head()
    assert(out.getDouble(0) === 1.0) // the one token landed in bucket 26
    assert(out.getDouble(1) === 1.0) // and nowhere else
  }

  test("pipeline fit learns idf on the training frame; model reuses it on new data") {
    val train = docs(1L -> "aa bb", 2L -> "aa cc", 3L -> "aa dd")
    val pipe = new Chain(Seq(
      Tokenizer("text", "toks"),
      HashingTF("toks", "tf", 32),
      InverseDocFreq("tf", "tfidf", 32)))
    val model = pipe.fit(train)
    // the fitted artifact exposes its learned parameters
    val idf = model.stages.collectFirst { case m: IdfModel => m }.get
    // "aa": 97*97 + 97*31 + 97*13 + 2*7 = 13691 % 32 = 27; in all 3 docs:
    // (3+1)/(3+1) = 1.0
    assert(idf.weights(27) === 1.0)
    // "bb": 98*97 + 98*31 + 98*13 + 2*7 = 13832 % 32 = 8; in 1 doc:
    // (3+1)/(1+1) = 2.0
    assert(idf.weights(8) === 2.0)
    // an unseen bucket: df 0 -> (3+1)/1 = 4.0
    assert(idf.weights.exists(_ === 4.0))
    // transform NEW data: "bb bb" tf(8)=2 scaled by the TRAINING weight 2.0,
    // not re-fitted on the new frame (where bb is in every doc -> weight 1)
    val applied = model.transform(docs(9L -> "bb bb"))
      .select(expr("tfidf[8]")).head().getDouble(0)
    assert(applied === 4.0)
  }

  test("fit is one pass: estimator sees upstream stages' output, chain order holds") {
    val train = docs(1L -> "aa bb  cc", 2L -> "")
    val pipe = new Chain(Seq(
      Tokenizer("text", "toks"),
      HashingTF("toks", "tf", 16),
      InverseDocFreq("tf", "tfidf", 16),
      L2Normalizer("tfidf", "nv")))
    val out = pipe.fit(train).transform(train).orderBy("doc_id")
    val rows = out.select(
      expr("size(toks)"),
      expr("round(aggregate(nv, 0.0D, (a, x) -> a + x * x), 9)")).collect()
    assert(rows(0).getInt(0) === 3) // double space dropped by the empty filter
    assert(rows(0).getDouble(1) === 1.0) // unit L2 norm
    assert(rows(1).getInt(0) === 0) // empty doc tokenizes to []
    assert(rows(1).getDouble(1) === 0.0) // zero vector stays zero, no NaN
  }

  test("s10 query: fitting on the full corpus would change the result (split is load-bearing)") {
    val q = graft.queries.Ml.defs("s10_ml_pipeline")(spark, sf001)
    val n = q.count()
    assert(n === Tables.documents(spark, sf001).count())
    // top_weight present and bounded by 1 (post-normalization)
    val bad = q.filter(col("top_weight") < 0 || col("top_weight") > 1).count()
    assert(bad === 0L)
  }

  test("model save/load roundtrip: the loaded model's s10 output is identical") {
    // The train-once/apply-elsewhere flow (reference 1.6 Pipeline/
    // PipelineModel persistence): fit on the s10 training slice, save,
    // load in a FRESH session, transform the full corpus — every
    // projected value, including the IEEE-sensitive top_weight, must
    // equal the in-memory model's (parquet weights round-trip bit-exact).
    val corpus = Tables.documents(spark, sf001)
    val pipe = new Chain(Seq(
      Tokenizer("text", "toks"),
      HashingTF("toks", "tf", 32),
      InverseDocFreq("tf", "tfidf", 32),
      L2Normalizer("tfidf", "nv")))
    val model = pipe.fit(corpus.filter(col("doc_id") < 250))
    val path = "/tmp/graft_scale/pipeline_model_spec"
    model.save(spark, path)
    val fresh = spark.newSession()
    val loaded = Model.load(fresh, path)
    // loaded stages carry the exact fitted parameters
    val w0 = model.stages.collectFirst { case m: IdfModel => m }.get.weights
    val w1 = loaded.stages.collectFirst { case m: IdfModel => m }.get.weights
    assert(w0 === w1)
    def project(m: Transformer, df: org.apache.spark.sql.DataFrame) =
      m.transform(df).select(col("doc_id"),
          (array_position(col("nv"), array_max(col("nv"))) - 1).as("top_feature"),
          col("nv"), col("tf"))
        .orderBy("doc_id").collect().toSeq
    assert(project(loaded, Tables.documents(fresh, sf001))
      === project(model, corpus))
  }

  test("scaler + pca2 stages: hand-checked eigen-solve, z-scores, and save/load roundtrip") {
    import spark.implicits._
    // perfectly correlated 2-feature set: means (3, 1.5), population
    // vars (5, 1.25), cov 2.5 -> eigenvalues (6.25, 0), principal
    // direction (2, 1)/sqrt(5) — all exactly hand-derivable
    val feats = Seq((1L, 0L, 0L), (2L, 2L, 1L), (3L, 4L, 2L), (4L, 6L, 3L))
      .toDF("id", "x1", "x2")
    val pipe = new Chain(Seq(
      StandardScaler2("x1", "x2", "z1", "z2"),
      Pca2("x1", "x2", "pc1", "evr")))
    val model = pipe.fit(feats)
    val pca = model.stages.collectFirst { case m: Pca2Model => m }.get
    assert(math.abs(pca.lam1 - 6.25) < 1e-12 && math.abs(pca.lam2) < 1e-12)
    assert(math.abs(pca.v1 - 2.0 / math.sqrt(5.0)) < 1e-15)
    assert(math.abs(pca.v2 - 1.0 / math.sqrt(5.0)) < 1e-15)
    val out = model.transform(feats).orderBy("id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // id 4 = (6, 3): z1 = 3/sqrt(5) = 1.3416..., pc1 = (3,1.5)·v = 3.3541...
    assert(byId(4L) === (1341641L, 1341641L, 3354102L, 1000000L))
    // id 1 = (0, 0): the mirrored negative point
    assert(byId(1L) === (-1341641L, -1341641L, -3354102L, 1000000L))
    // diagonal covariance (b = 0) takes the dominant axis with the
    // deterministic orientation convention
    val f2 = Seq((1L, 2L, 1L), (2L, -2L, 1L), (3L, 0L, 0L), (4L, 0L, 2L))
      .toDF("id", "x1", "x2")
    val m2 = Pca2("x1", "x2", "pc1", "evr").fit(f2) // a = 2 > c = 0.5, b = 0
    assert(m2.v1 === 1.0 && m2.v2 === 0.0)
    // persistence: both new stage kinds round-trip bit-exact
    val path = "/tmp/graft_scale/pipeline_pca_spec"
    model.save(spark, path)
    val loaded = Model.load(spark, path)
    assert(loaded.transform(feats).orderBy("id").collect().toSeq === out.toSeq)
  }

  test("gauntlet stages: indexer tie-break, dropLast, bucket bounds, strict binarize, minmax midpoint, zero-norm") {
    import spark.implicits._
    // b and c tie at 2 occurrences: freq order is a(3), then b before c
    // by the pinned label-ASC tie rule
    val labels = Seq("a", "a", "a", "b", "b", "c", "c").toDF("prio")
    val idxModel = StringIndexerStage("prio", "i").fit(labels)
    val got = idxModel.transform(Seq("a", "b", "c", "zz").toDF("prio"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "zz" -> -1L)) // unseen -> null
    // one-hot dropLast: index 2 of 3 categories is all-zeros
    val oh = OneHotStage("i", "oh", 3)
      .transform(idxModel.transform(Seq("a", "b", "c").toDF("prio")))
      .select("i", "oh_0", "oh_1").orderBy("i")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(oh.toSeq === Seq((0L, 1L, 0L), (1L, 0L, 1L), (2L, 0L, 0L)))
    // bucketizer: right-exclusive except the last bucket's upper bound
    val bk = BucketizerStage("x", "b", Seq(0L, 10L, 20L))
      .transform(Seq(0L, 9L, 10L, 19L, 20L).toDF("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bk === Map(0L -> 0L, 9L -> 0L, 10L -> 1L, 19L -> 1L, 20L -> 1L))
    // binarizer is STRICTLY greater
    val bn = BinarizerStage("x", "b", 10L)
      .transform(Seq(9L, 10L, 11L).toDF("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bn === Map(9L -> 0L, 10L -> 0L, 11L -> 1L))
    // minmax: plain rescale, and the constant-column 500-milli midpoint
    val mmModel = MinMaxScalerStage("x", "m").fit(Seq(10L, 20L, 30L).toDF("x"))
    assert(mmModel.transform(Seq(10L, 15L, 30L).toDF("x"))
      .collect().map(_.getLong(1)).toSeq === Seq(0L, 250L, 1000L))
    val constModel = MinMaxScalerStage("x", "m").fit(Seq(5L, 5L).toDF("x"))
    assert(constModel.transform(Seq(5L).toDF("x")).head().getLong(1) === 500L)
    // normalizer: 3-4-5 triangle in milli; zero-norm keeps the input
    val nr = Normalizer2Stage("x1", "x2", "n1", "n2")
      .transform(Seq((3L, 4L), (0L, 0L)).toDF("x1", "x2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(nr.toSet === Set((3L, 4L, 600L, 800L), (0L, 0L, 0L, 0L)))
    // elementwise product is exact
    val ew = ElementwiseProductStage(Seq(("x1", "e1", 2L)))
      .transform(Seq(21L.asInstanceOf[java.lang.Long]).toDF("x1")).head()
    assert(ew.getLong(1) === 42L)
  }

  test("stop words: case-insensitive match preserves output casing; caseSensitive keeps mismatches") {
    import spark.implicits._
    val df = Seq((1L, Seq("The", "quick", "THE", "fox", "the"))).toDF("id", "toks")
    val ci = StopWordsRemoverStage("toks", "kept", Seq("the")).transform(df).head()
    assert(ci.getSeq[String](2) === Seq("quick", "fox"))
    val cs = StopWordsRemoverStage("toks", "kept", Seq("the"), caseSensitive = true)
      .transform(df).head()
    assert(cs.getSeq[String](2) === Seq("The", "quick", "THE", "fox"))
  }

  test("polynomial expansion order; dct: constant signal -> DC only, known vector matches scalar mirror") {
    import spark.implicits._
    val pe = PolynomialExpansion2Stage("a", "b")
      .transform(Seq((3L, 5L)).toDF("a", "b")).head()
    // (x, x*x, y, x*y, y*y) — the reference's documented order
    assert((2 to 6).map(pe.getLong) === Seq(3L, 9L, 5L, 15L, 25L))
    val const = Dct4Stage("y").transform(Seq((7L, 7L, 7L, 7L)).toDF("x1", "x2", "x3", "x4")).head()
    // constant signal: y0 = sqrt(1/4)*4*7 = 14 (milli 14000), others 0
    assert((4 to 7).map(const.getLong) === Seq(14000L, 0L, 0L, 0L))
    // known vector vs a driver-side mirror of the same orthonormal DCT-II
    val got = Dct4Stage("y").transform(Seq((1L, 2L, 3L, 4L)).toDF("x1", "x2", "x3", "x4")).head()
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    val want = (0 until 4).map { k =>
      val s = if (k == 0) math.sqrt(1.0 / 4.0) else math.sqrt(2.0 / 4.0)
      val sum = (0 until 4).map(j => xs(j) * math.cos((math.Pi * ((2.0 * j) + 1.0) * k) / 8.0)).sum
      math.round(s * sum * 1000.0)
    }
    assert((4 to 7).map(got.getLong) === want)
  }

  test("quantile discretizer: exact quartile splits, left-closed buckets, balanced counts") {
    import spark.implicits._
    // 1..8: q1 = 2.75, q2 = 4.5, q3 = 6.25 -> buckets {1,2},{3,4},{5,6},{7,8}
    val df = (1L to 8L).toDF("x")
    val m = QuantileDiscretizerStage("x", "b").fit(df)
    assert(m.splits === Seq(2.75, 4.5, 6.25))
    val got = m.transform(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 3L, 8L -> 3L))
    // a value EQUAL to a split goes to the bucket above (left-closed)
    val m2 = QuantileSplitsModel("x", "b", Seq(3.0))
    val eq = m2.transform(Seq(3L).toDF("x")).head().getLong(1)
    assert(eq === 1L)
  }

  test("rformula: numeric terms, categorical dummies, interaction, dot wildcard") {
    import spark.implicits._
    // c counts: a:2, b:1 -> frequency-desc order a(0), b(1); dropLast
    // leaves ONE dummy = [c == a]
    val df = Seq((1L, 2L, "b", 10L), (2L, 3L, "a", 20L), (3L, 4L, "a", 30L))
      .toDF("x", "y", "c", "lab")
    val m = RFormulaStage("lab ~ x + c + x:y").fit(df)
    val out = m.transform(df).select("x", "label", "f1", "f2", "f3")
      .orderBy("x").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 10L, 1L, 0L, 2L),
      (2L, 20L, 2L, 1L, 6L), (3L, 30L, 3L, 1L, 12L)))
    // '.' expands to every non-label column (here all numeric)
    val d2 = Seq((5L, 7L, 100L)).toDF("p", "q", "lab")
    val m2 = RFormulaStage("lab ~ .").fit(d2)
    val r2 = m2.transform(d2).select("label", "f1", "f2").head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((100L, 5L, 7L)))
  }

  test("countVectorizer: fit learns the minDF-gated vocab; model applies it to NEW data") {
    import spark.implicits._
    val train = Seq(
      (1L, Seq("aa", "aa", "bb", "cc")),
      (2L, Seq("aa", "bb")),
      (3L, Seq("aa", "dd"))).toDF("doc_id", "toks")
    val model = CountVectorizerStage("toks", "tf", vocabSize = 2, minDF = 2.0)
      .fit(train)
    // counts: aa=4 (df 3), bb=2 (df 2), cc=1 (df 1), dd=1 (df 1);
    // minDF=2 drops cc/dd, vocabSize=2 keeps (aa, bb) in count-desc order
    assert(model.vocabulary === Seq("aa", "bb"))
    // transform NEW data with the TRAINING vocabulary: dd is OOV, a
    // vocab-less doc gets the zero vector
    val out = model.transform(Seq(
        (9L, Seq("bb", "bb", "dd")), (10L, Seq("dd"))).toDF("doc_id", "toks"))
      .orderBy("doc_id")
      .select(expr("tf[0]"), expr("tf[1]")).collect()
    assert(out.map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      === Seq((0.0, 2.0), (0.0, 0.0)))
    // fractional minDF: 0.7 * 3 docs = 2.1 -> only aa (df 3) survives
    val frac = CountVectorizerStage("toks", "tf", vocabSize = 10, minDF = 0.7)
      .fit(train)
    assert(frac.vocabulary === Seq("aa"))
    // persistence round-trip carries the vocabulary verbatim
    val path = "/tmp/graft_scale/pipeline_cv_spec"
    new Model(Seq(model)).save(spark, path)
    val loaded = Model.load(spark, path)
      .stages.collectFirst { case m: CountVectorizerModel => m }.get
    assert(loaded === model)
  }

  test("nGram: sliding windows, withPartial(false) short-input contract, n=1 identity") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("a")), (3L, Seq.empty[String]))
      .toDF("id", "toks")
    val bi = NGramStage("toks", "g", n = 2).transform(df).orderBy("id")
      .select(expr("concat_ws('|', g)")).collect().map(_.getString(0))
    assert(bi.toSeq === Seq("a b|b c", "", ""))
    val tri = NGramStage("toks", "g", n = 3).transform(df).orderBy("id")
      .select(expr("size(g)")).collect().map(_.getInt(0))
    assert(tri.toSeq === Seq(1, 0, 0))
    val uni = NGramStage("toks", "g", n = 1).transform(df.filter(col("id") === 1))
      .select(expr("concat_ws('|', g)")).head().getString(0)
    assert(uni === "a|b|c")
  }

  test("plumbing stages: assembler order, slicer indices, indexToString inverse, SQL __THIS__") {
    import spark.implicits._
    val df = Seq((1L, 10L, 100L, "F"), (2L, 20L, 200L, "O"), (3L, 30L, 300L, "O"))
      .toDF("id", "a", "b", "st")
    val idx = StringIndexerStage("st", "st_idx").fit(df)
    assert(idx.labels === Seq("O", "F")) // freq desc, tie alphabetical
    val chain = new Model(Seq(
      idx,
      IndexToStringStage("st_idx", "st_rt", idx.labels),
      VectorAssemblerStage(Seq("a", "b"), "v"),
      VectorSlicerStage("v", "s", Seq(1)),
      SQLTransformerStage("SELECT id, st, st_rt, v, s, a + b AS ab FROM __THIS__")))
    val out = chain.transform(df).orderBy("id").collect()
    // IndexToString inverts StringIndexer exactly
    assert(out.map(r => (r.getAs[String]("st"), r.getAs[String]("st_rt")))
      .forall { case (x, y) => x == y })
    // assembler preserves input order; slicer picks 0-based component 1
    val r1 = out.head
    assert(r1.getAs[Seq[Double]]("v") === Seq(10.0, 100.0))
    assert(r1.getAs[Seq[Double]]("s") === Seq(100.0))
    // the SQL stage computed over the running frame and pruned columns
    assert(r1.getAs[Long]("ab") === 110L)
    assert(!out.head.schema.fieldNames.contains("st_idx") ||
      r1.schema.fieldNames.sameElements(
        Array("id", "st", "st_rt", "v", "s", "ab")))
    // unseen index maps to null (the handleInvalid-skip posture)
    val nullRt = IndexToStringStage("i", "l", Seq("x"))
      .transform(Seq(5L).toDF("i")).select("l").head()
    assert(nullRt.isNullAt(0))
    // persistence: the whole plumbing chain round-trips
    val path = "/tmp/graft_scale/pipeline_plumb_spec"
    chain.save(spark, path)
    val loaded = Model.load(spark, path)
    assert(loaded.transform(df).orderBy("id").collect().toSeq === out.toSeq)
  }

  test("s61 runs under whole-stage codegen with no interpreted fallback") {
    // the noop sink computes every column; with the fallback off, a
    // generated class that fails to compile fails the write instead of
    // silently running interpreted. s61's optimized plan depends on the
    // expression-id counter: whether CollapseProject merges the stacked
    // CASE and array projections follows the ids, so one JVM plans it
    // with 4, 5 or 6 projections from build to build (with
    // VectorSlicerStage on element_at, one of those shapes failed to
    // compile). Shift the counter between builds and write every shape
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val shapes = scala.collection.mutable.Set.empty[Int]
    try for (i <- 1 to 6) {
      (0 until 3 * i).foreach(_ => org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)
      val df = SparkEntry.queries("s61_plumbing_stages")(spark, sf001)
      val projects = df.queryExecution.optimizedPlan.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.size
      if (shapes.add(projects)) df.write.format("noop").mode("overwrite").save()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("vectorIndexer: zero-first category order, continuous cutoff, unseen -> null") {
    import spark.implicits._
    val df = Seq(
      (1L, -1L, 10L), (2L, 0L, 20L), (3L, 1L, 30L), (4L, 0L, 40L))
      .toDF("id", "r", "c")
    val model = VectorIndexerStage(Seq("r", "c"), maxCategories = 3).fit(df)
    // r has domain {-1, 0, 1}: zero FIRST, then non-zero ascending
    assert(model.categoryMaps("r") === Seq(0L, -1L, 1L))
    // c has 4 distinct > maxCategories -> continuous, no map
    assert(!model.categoryMaps.contains("c"))
    val out = model.transform(df).orderBy("id")
      .select("r_idx").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L, 0L, 2L, 0L))
    // unseen value maps to null
    val unseen = model.transform(Seq((9L, 5L, 1L)).toDF("id", "r", "c"))
      .select("r_idx").head()
    assert(unseen.isNullAt(0))
    // persistence round-trip keeps the category maps (and the absence
    // of one for the continuous feature)
    val path = "/tmp/graft_scale/pipeline_vidx_spec"
    new Model(Seq(model)).save(spark, path)
    val loaded = Model.load(spark, path)
      .stages.collectFirst { case m: VectorIndexerModel => m }.get
    assert(loaded === model)
  }
}
