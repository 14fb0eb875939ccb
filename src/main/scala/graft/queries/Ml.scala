package graft.queries

import graft.Tables
import graft.ext.Pipeline._
import graft.ext.{Learn, Recommend}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib Pipeline thin-slice query (SURVEY §2.13; reference
  * mllib/.../ml/Pipeline.scala): a fitted, reusable
  * tokenize -> hashingTF -> idf -> normalize pipeline over documents.
  *
  * The fit/transform SPLIT is the point and is visible in the result: the
  * pipeline is fitted on the doc_id < 250 training slice only (a
  * FIXED-SIZE training set at any corpus scale — the idf weights are
  * learned parameters, not corpus-coupled state), then the fitted model
  * transforms the WHOLE corpus, exactly how a production curation job
  * trains once and applies everywhere. The oracle learns the same weights
  * from the same slice in SQL, so a fit that accidentally saw the full
  * corpus would hash-mismatch.
  */
object Ml {

  private val NumFeatures = 32

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s10_ml_pipeline" -> { (s, dir) =>
      // spread: the HashingTF explode's map side would otherwise run in
      // the single scan task (Tables.documentsSpread scaladoc)
      val docs = Tables.documentsSpread(s, dir)
      val pipe = new Chain(Seq(
        Tokenizer("text", "toks"),
        HashingTF("toks", "tf", NumFeatures),
        InverseDocFreq("tf", "tfidf", NumFeatures),
        L2Normalizer("tfidf", "nv")))
      val model = pipe.fit(docs.filter(col("doc_id") < 250))
      model.transform(docs)
        .select(col("doc_id"),
          (array_position(col("nv"), array_max(col("nv"))) - 1).as("top_feature"),
          round(array_max(col("nv")), 6).as("top_weight"),
          expr("cast(size(filter(tf, x -> x > 0)) as bigint)").as("n_active"))
        .orderBy("doc_id")
    },

    // ALS matrix-factorization recommendation (reference
    // mllib/.../recommendation/ALS.scala — the most-used MLlib workhorse
    // after clustering): implicit star ratings from purchase counts
    // (user = customer, item = supplier, rating = min(5, n_lineitems)),
    // two alternating rounds of exact-integer rank-2 ridge solves
    // (Recommend.alsRank at rank 2; the graft.ext.Recommend scaladoc has
    // the determinism argument), then
    // the top unrated supplier for the custkey <= 300 cohort — the batch
    // scoring shape: factors train on EVERYTHING, the serving cohort is
    // bounded. Scores are exact integer dot products, so the argmax (and
    // the oracle's) cannot tie-drift.
    "s12_als_recommend" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (users, items) = Recommend.alsRank(ratings, rank = 2, iters = 2)
      Recommend.recommendTop1(ratings, users.filter(col("u") <= 300), items)
        .orderBy("u")
    },

    // Batch top-k recommendations for every cohort user (reference
    // mllib/recommendation/MatrixFactorizationModel.scala:128
    // recommendProducts / :270 recommendForAll — ALL items scored per
    // user, rated included, the reference's own contract vs s12's
    // unrated-only serving): the same two-round ALS factors as s12,
    // then the top-3 suppliers per customer in the bounded cohort.
    "s64_recommend_for_all" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (users, items) = Recommend.alsRank(ratings, rank = 2, iters = 2)
      Recommend.recommendTopK(users.filter(col("u") <= 300), items, k = 3)
        .orderBy("u", "rnk")
    },

    // Implicit-feedback ALS (reference mllib/.../recommendation/
    // ALS.scala:91 implicitPrefs + Hu/Koren/Volinsky ICDM'08): the same
    // purchase counts as s12 read as CONFIDENCES c = 1 + 40·r over
    // binary preferences, two alternating rounds of the rank-2 implicit
    // normal equation with the 1-row broadcast YᵀY Gramian (the paper's trick:
    // per-key work stays proportional to observed ratings). Emits the
    // item-side factor table — exact quantized integers, every solve
    // reproduced bit-for-bit by the oracle's unrolled half-steps.
    "s47_implicit_als" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (_, items) = Recommend.alsImplicitRank(ratings, rank = 2, iters = 2, alpha = 40L)
      items.select("i", "f1q", "f2q").orderBy("i")
    },

    // Nonnegative ALS (reference mllib/optimization/NNLS.scala:65 +
    // recommendation/ALS.scala:85,173 setNonnegative — the third ALS
    // mode, for interpretable nonnegative factors): ratings are PLANTED
    // from a nonnegative rank-2 model over the real purchase sparsity
    // pattern (r = (1 + u%3)(1 + i%4) + (u%2)(i%3) on observed (u, i)
    // pairs), so the constrained alternation has a true nonnegative
    // optimum to find. The sign-diverse init forces round-1 clamps (the
    // boundary branches of the rank-2 NNLS enumeration are exercised on
    // the gated path); the emitted item factors are all ≥ 0 by the
    // solve's construction. RecommendSpec pins factors ≥ 0 on BOTH
    // sides plus the planted-model RMSE comparison vs the clamp-free
    // fit.
    "s89_nonneg_als" -> { (s, dir) =>
      val ratings = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("i")).distinct()
        .selectExpr("u", "i",
          "CAST((1 + u % 3) * (1 + i % 4) + (u % 2) * (i % 3) AS BIGINT) AS r")
      val (_, items) = Recommend.alsNonneg(ratings, iters = 2)
      items.select("i", "f1q", "f2q").orderBy("i")
    },

    // General-rank ALS (reference mllib/recommendation/ALS.scala:59 —
    // `rank` is the API's FIRST parameter, default 10; s12/s64/s47 run
    // the same kernel at rank 2): rank 3 over the same
    // purchase matrix, each per-key 3×3 SPD ridge solve run as
    // Recommend.alsSolveLayersK's generated Gaussian-elimination
    // projection layers (the Solve.scala machinery applied PER KEY —
    // every row of the sums table is its own system; no per-key LAPACK,
    // one codegen projection chain per half-step). Emits the item
    // factor table, gating the full chain.
    "s109_als_rank" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (_, items) = Recommend.alsRank(ratings, rank = 3, iters = 2)
      items.select("i", "f1q", "f2q", "f3q").orderBy("i")
    },

    // General-rank IMPLICIT ALS (reference ALS.scala composes
    // implicitPrefs WITH rank — a real user's call passes both; s47
    // runs the same kernel at rank 2): rank 3 over the same confidence
    // matrix, the 1-row Gramian + per-key confidence sums feeding the
    // SAME generated elimination layers as s109 through an a = g + s
    // pre-layer.
    "s114_als_implicit_rank" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (_, items) = Recommend.alsImplicitRank(ratings, rank = 3, iters = 2)
      items.select("i", "f1q", "f2q", "f3q").orderBy("i")
    },

    // SVD++ (reference graphx/lib/SVDPlusPlus.scala — the last GraphX lib
    // algorithm without a counterpart): bias + implicit-feedback factors
    // trained by two full-batch gradient iterations over the same purchase
    // ratings as s12. The emitted item-side model (factors, implicit-y
    // vectors, biases — all exact quantized BIGINTs) is a function of
    // every phase of the chain, so the oracle's unrolled mirror gates the
    // whole training loop.
    "s13_svdpp" -> { (s, dir) =>
      val ratings = purchaseRatings(s, dir)
      val (_, items, _) = Recommend.svdpp(ratings, iters = 2)
      items.select("i", "q1q", "q2q", "y1q", "y2q", "biq").orderBy("i")
    },

    // Closed-form linear regression (reference mllib/regression — trained
    // there by SGD; the exact normal-equation solve is the right tool at
    // 2 features): order total ~ 1 + n_items + total_quantity. Nine exact
    // integer sufficient statistics in ONE aggregation scan, the Cramer
    // solve as a formula string shared VERBATIM with the oracle, predq
    // emitted for a bounded cohort.
    "s14_linear_regression" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("x2"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y")),
          "o_orderkey")
      val betas = Learn.olsFit2(feats)
      Learn.olsPredict2(feats.filter(col("o_orderkey") <= 4000), betas, "o_orderkey")
        .withColumnRenamed("y", "cents")
        .orderBy("o_orderkey")
    },

    // FP-growth thin-slice (reference mllib/fpm/FPGrowth.scala +
    // AssociationRules.scala): which part brands sell together —
    // frequent brand pairs within orders with the apriori prune, rules
    // both directions with exact integer micro-unit confidence/lift.
    "s16_association_rules" -> { (s, dir) =>
      val baskets = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      Learn.frequentPairRules(baskets, "basket", "item",
          minSupport = 0.01, minConfidence = 0.1)
        .orderBy("antecedent", "consequent")
    },

    // Multinomial Naive Bayes (reference mllib/classification/
    // NaiveBayes.scala — the same per-label count aggregation): train
    // language-ID on the doc_id < 250 slice, classify the whole corpus.
    // Micro-nat-quantized log scores make the argmax engine-exact.
    "s15_naive_bayes" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Learn.naiveBayes(docs.filter(col("doc_id") < 250), docs,
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // StopWordsRemover (reference ml/feature/StopWordsRemover.scala:88;
    // caseSensitive defaults false :121 — matching lowercases, output
    // preserves original casing): strip the corpus' five most frequent
    // filler tokens (given in MIXED case to exercise the
    // case-insensitive path), per-document before/after token counts +
    // the per-document digest of the remaining tokens.
    "s58_stopwords" -> { (s, dir) =>
      // repartition before the interpreted lambda chain — same
      // single-file-single-core trap and fix as s60 (ratio 4.8x -> the
      // row-linear band)
      val toks = Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .selectExpr("doc_id",
          "filter(split(text, ' '), t -> length(t) > 0) AS toks")
      StopWordsRemoverStage("toks", "kept",
          Seq("Join", "HASH", "row", "Batch", "scan")).transform(toks)
        .selectExpr("doc_id",
          "CAST(size(toks) AS BIGINT) AS n_toks",
          "CAST(size(kept) AS BIGINT) AS n_kept",
          "md5(concat_ws(' ', kept)) AS kept_md5")
        .orderBy("doc_id")
    },

    // AFT survival regression (reference ml/regression/
    // AFTSurvivalRegression.scala — the Weibull accelerated-failure-time
    // model, the one 1.6 model family the repo didn't yet cover;
    // deviations declared on ext.Learn.aftFit2): order fulfillment time
    // t = days from order date to last ship date (positive rows only —
    // a survival time must be positive to log), censor δ = 1 for
    // fully-shipped 'F' orders (event observed) else censored; three
    // full-batch descent steps, then predicted lifetime + Weibull median
    // for the bounded cohort with the fitted params riding along.
    "s63_aft_survival" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          max(col("l_shipdate")).as("last_ship"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderstatus"), "o_orderkey")
        .selectExpr("o_orderkey",
          "CAST(datediff(last_ship, o_orderdate) + 1 AS BIGINT) AS t",
          "CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS del",
          "CAST(least(n_items, 7) AS BIGINT) AS x1",
          "CAST(least(qty DIV 20, 10) AS BIGINT) AS x2")
        .filter(col("t") >= 1)
      val params = Learn.aftFit2(feats, iters = 3, step = 2e-4)
      Learn.aftPredict(feats.filter(col("o_orderkey") <= 2000), params, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // CountVectorizer (reference ml/feature/CountVectorizer.scala:110
    // fit / :192 model): exact-vocabulary term counting next to s10's
    // HashingTF — vocab = top-10 tokens by (count desc, tok) with
    // minDF >= 2, then the fitted model's count vectors over the WHOLE
    // corpus, emitted sparse (posexplode + c > 0) with the vocab term
    // joined back so the fitted dictionary itself is oracle-gated.
    "s59_count_vectorizer" -> { (s, dir) =>
      val toks = Tables.documentsSpread(s, dir)
        .selectExpr("doc_id",
          "filter(split(text, ' '), t -> length(t) > 0) AS toks")
      val model = CountVectorizerStage("toks", "tf",
        vocabSize = 10, minDF = 2.0).fit(toks)
      import s.implicits._
      val terms = model.vocabulary.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("j", "term")
      model.transform(toks)
        .select(col("doc_id"), posexplode(col("tf")).as(Seq("j", "c")))
        .filter(col("c") > 0)
        .select(col("doc_id"), col("j").cast("long").as("j"),
          col("c").cast("long").as("cnt"))
        .join(broadcast(terms), "j")
        .select("doc_id", "j", "term", "cnt")
        .orderBy("doc_id", "j")
    },

    // The n-gram TF pipeline the two stages exist to feed (reference
    // Pipeline.scala:96 fit semantics over NGram.scala:38 +
    // CountVectorizer.scala:110): Tokenizer -> NGram(2) ->
    // CountVectorizer chained through ONE Chain.fit — the estimator
    // sees upstream transforms exactly as the fitted model reproduces
    // them; the fitted bigram dictionary (top-8, minDF 2) and the
    // per-doc sparse counts are both oracle-gated.
    "s65_ngram_tf_pipeline" -> { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      // materialize the bigram feature frame ONCE between the lambda
      // stages and the estimator: the tokenizer+ngram chain is nested
      // interpreted HOF lambdas, and letting fit + transform each
      // re-derive it measured ~8x the total (78 -> ~10 s at sf1) —
      // exactly the intermediate feature table a production pipeline
      // persists between featurization and fitting
      val grams = NGramStage("toks", "grams", n = 2)
        .transform(Tokenizer("text", "toks").transform(docs))
        .select("doc_id", "grams").localCheckpoint()
      val cv = CountVectorizerStage("grams", "tf",
        vocabSize = 8, minDF = 2.0).fit(grams)
      import s.implicits._
      val terms = cv.vocabulary.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("j", "gram")
      cv.transform(grams)
        .select(col("doc_id"), posexplode(col("tf")).as(Seq("j", "c")))
        .filter(col("c") > 0)
        .select(col("doc_id"), col("j").cast("long").as("j"),
          col("c").cast("long").as("cnt"))
        .join(broadcast(terms), "j")
        .select("doc_id", "j", "gram", "cnt")
        .orderBy("doc_id", "j")
    },

    // NGram (reference ml/feature/NGram.scala:38 — sliding(n)
    // withPartial(false), space-joined windows, empty array below n):
    // per-document bigram count + digest over the bigram sequence, the
    // s58 shape; corpus-wide top-5 bigrams would be a groupBy away.
    "s60_ngram" -> { (s, dir) =>
      // repartition BEFORE the per-doc projection: HOF lambdas run
      // interpreted and a shuffle-free projection inherits the source
      // file's split count — a single-file corpus would run the whole
      // bigram+md5 chain on one core (the s10 lesson; measured 7.7 s ->
      // 2.2 s at sf1 local[4], scaling ratio 9.7x -> 2.0x per 10x rows)
      val toks = Tables.documents(s, dir)
        .repartition(col("doc_id"))
        .selectExpr("doc_id",
          "filter(split(text, ' '), t -> length(t) > 0) AS toks")
      NGramStage("toks", "grams", n = 2).transform(toks)
        .selectExpr("doc_id",
          "CAST(size(grams) AS BIGINT) AS n_grams",
          "md5(concat_ws('|', grams)) AS grams_md5")
        .orderBy("doc_id")
    },

    // Pipeline plumbing gauntlet (reference ml/feature/VectorAssembler
    // .scala:39, VectorSlicer.scala:44, StringIndexer.scala:246
    // IndexToString, SQLTransformer.scala:43): StringIndexer fits on
    // o_orderstatus, IndexToString round-trips the index back to the
    // label (st_rt == o_orderstatus gates the inverse), VectorAssembler
    // packs (n_items, qty, cents) into the house array<double> vector,
    // VectorSlicer takes components [0, 2], and SQLTransformer derives
    // cents + qty over the __THIS__ view. Arrays are flattened via
    // element_at for the comparator.
    "s61_plumbing_stages" -> { (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")), "o_orderkey")
      val idx = StringIndexerStage("o_orderstatus", "st_idx").fit(base)
      val chain = new Model(Seq(
        idx,
        IndexToStringStage("st_idx", "st_rt", idx.labels),
        VectorAssemblerStage(Seq("n_items", "qty", "cents"), "fv"),
        VectorSlicerStage("fv", "sl", Seq(0, 2)),
        SQLTransformerStage(
          "SELECT o_orderkey, st_idx, st_rt, fv, sl, cents + qty AS cq FROM __THIS__")))
      chain.transform(base)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("st_idx"), col("st_rt"),
          element_at(col("fv"), 2).as("fv2"),
          element_at(col("sl"), 1).as("sl1"),
          element_at(col("sl"), 2).as("sl2"),
          col("cq").cast("long").as("cq"))
        .orderBy("o_orderkey")
    },

    // VectorIndexer (reference ml/feature/VectorIndexer.scala:97 —
    // per-feature distinct sets decide categorical (<= maxCategories)
    // vs continuous; category maps order zero-first then ascending,
    // :198-203): cents stays continuous (passthrough, visible raw),
    // items_c = least(n_items, 5) (bounded positive domain at ANY scale
    // factor) and qty%3−1 (domain {−1,0,1} — exercises the zero-first
    // rule: 0→0, −1→1, 1→2) become indices; n_categorical gates the
    // decision itself.
    "s62_vector_indexer" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")), "o_orderkey")
        .selectExpr("o_orderkey", "cents",
          "least(n_items, 5) AS items_c", "qty % 3 - 1 AS r3")
      val model = VectorIndexerStage(Seq("cents", "items_c", "r3"),
        maxCategories = 10).fit(feats)
      model.transform(feats)
        .filter(col("o_orderkey") <= 2000)
        .withColumn("n_categorical", lit(model.categoryMaps.size.toLong))
        .select("o_orderkey", "cents", "items_c_idx", "r3_idx", "n_categorical")
        .orderBy("o_orderkey")
    },

    // PolynomialExpansion (reference ml/feature/PolynomialExpansion
    // .scala:38 — degree-2 of (x, y) = (x, x², y, xy, y²) in exactly
    // that order, :35; exact integers throughout): the s14 features
    // expanded for the bounded cohort.
    "s56_polynomial_expansion" -> { (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("x2"))
        .filter(col("o_orderkey") <= 2000)
      PolynomialExpansion2Stage("x1", "x2").transform(base)
        .select("o_orderkey", "f1", "f2", "f3", "f4", "f5")
        .orderBy("o_orderkey")
    },

    // Forward DCT-II (reference ml/feature/DCT.scala:39 — JTransforms
    // DoubleDCT_1D.forward with orthonormal scaling, :62; N = 4, cosine
    // arguments are fixed constants so both engines hit libm cos at
    // identical doubles, milli-quantized outputs): the per-order
    // 4-feature signal's frequency coefficients.
    "s57_dct" -> { (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("x2"),
          min(expr("CAST(round(l_quantity) AS BIGINT)")).as("x3"),
          max(expr("CAST(round(l_quantity) AS BIGINT)")).as("x4"))
        .filter(col("o_orderkey") <= 2000)
      Dct4Stage("y").transform(base)
        .select("o_orderkey", "y0", "y1", "y2", "y3")
        .orderBy("o_orderkey")
    },

    // QuantileDiscretizer (reference ml/feature/QuantileDiscretizer
    // .scala:62; exact-quantile deviation declared on the stage): order
    // totals into quartile buckets, per-bucket count + exact cent
    // bounds — the bucket edges land where the quantiles do, so the
    // fitted splits are fully visible in the result.
    "s54_quantile_discretizer" -> { (s, dir) =>
      val cents = Tables.orders(s, dir)
        .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      val model = QuantileDiscretizerStage("cents", "bucket").fit(cents)
      model.transform(cents)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bucket")
    },

    // RFormula (reference ml/feature/RFormula.scala:50 — R-style model
    // formulas; fit :82 routes string terms through StringIndexer +
    // OneHotEncoder(dropLast) and a:b through Interaction :123; the
    // supported-slice deviations are declared on ext.Pipeline
    // .RFormulaStage): "cents ~ n_items + qty + o_orderstatus +
    // n_items:qty" over per-order aggregates — numerics pass through,
    // the 3-status categorical expands to 2 frequency-desc dummies, the
    // interaction multiplies; label + flat features for the bounded
    // cohort.
    "s53_rformula" -> { (s, dir) =>
      val base = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")), "o_orderkey")
      val model = RFormulaStage(
        "cents ~ n_items + qty + o_orderstatus + n_items:qty").fit(base)
      model.transform(base)
        .filter(col("o_orderkey") <= 2000)
        .select("o_orderkey", "label", "f1", "f2", "f3", "f4", "f5")
        .orderBy("o_orderkey")
    },

    // Gradient-boosted stumps with LOG-LOSS (reference mllib/tree/loss/
    // LogLoss.scala:48 — the classification loss next to s26's L2;
    // deviations declared in Learn.gbtLogLossFit2's scaladoc): three
    // boosting rounds on the s19 label in {−1, 1}, residuals recomputed
    // from the carried margin each round, margin-sign predictions for
    // the bounded cohort.
    "s52_gbt_logloss" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 10, 1L)
        .selectExpr("o_orderkey", "x1", "x2", "CAST((yq * 2) - 1 AS BIGINT) AS ys")
      val model = Learn.gbtLogLossFit2(rows, rounds = 3, lr = 0.5)
      Learn.gbtLogLossPredict(rows.filter(col("o_orderkey") <= 4000),
          "o_orderkey", model)
        .orderBy("o_orderkey")
    },

    // Gradient-boosted stumps with ABSOLUTE-ERROR loss (reference
    // mllib/tree/loss/AbsoluteError.scala:46 — sign gradients, the third
    // and last of the reference's GBT losses next to s26's L2 and s52's
    // log-loss; deviations declared on Learn.gbtAbsFit2): floored-median
    // F0, three sign-residual rounds on the s26 continuous target, the
    // cohort scored by the same stump-sum projection as s26.
    "s67_gbt_absolute" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      val (f0, model) = Learn.gbtAbsFit2(rows, rounds = 3, lr = 0.5)
      Learn.gbtPredict2(rows.filter(col("o_orderkey") <= 4000), "o_orderkey", f0, model)
        .orderBy("o_orderkey")
    },

    // Bernoulli Naive Bayes (reference mllib/classification/
    // NaiveBayes.scala:49 modelType "bernoulli" — presence bits over the
    // training vocabulary, θ = (dfc+1)/(n_c+2), the negThetaSum
    // absent-word precompute :73; s15 is the multinomial type): the same
    // language-ID task and train slice as s15, so the two model types'
    // disagreements are real and inspectable.
    "s49_bernoulli_nb" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Learn.bernoulliNaiveBayes(docs.filter(col("doc_id") < 250), docs,
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // PrefixSpan thin-slice (reference mllib/fpm/PrefixSpan.scala):
    // frequent "A then B" event-type sequences across users, mined from
    // per-user time bounds — no event-level pair join. The value > 150
    // slice sparsifies per-user type sets so the support threshold BINDS
    // (on the raw table every user has every type and every pair is
    // trivially frequent): at sf0.01 supports spread 8-20% and the 12%
    // cut keeps 13 of 20 ordered pairs.
    "s18_frequent_sequences" -> { (s, dir) =>
      Learn.frequentSequences2(Tables.events(s, dir).filter(col("value") > 150),
          "user_id", "event_type", "ts", minSupport = 0.12)
        .orderBy("antecedent", "consequent")
    },

    // Length-3 sequential patterns (reference mllib/fpm/
    // PrefixSpan.scala:113 genFreqPatterns — the prefix-growth round
    // s18's length-2 slice elides; existence via a middle event strictly
    // inside the (earliest-antecedent, latest-consequent) window, the
    // optimal-endpoints argument in Learn.frequentSequences3's
    // scaladoc): "A then B then C" event-type chains over the same
    // sparsified slice as s18, threshold 5% of users.
    "s55_frequent_triples_seq" -> { (s, dir) =>
      Learn.frequentSequences3(Tables.events(s, dir).filter(col("value") > 150),
          "user_id", "event_type", "ts", minSupport = 0.05)
        .orderBy("t1", "t2", "t3")
    },

    // Model evaluation (reference mllib/evaluation/MulticlassMetrics
    // .scala): per-class precision/recall/F1 of the s15 classifier on the
    // HELD-OUT half (doc_id >= 250 — rows the training slice never saw),
    // every metric an exact integer micro-unit from one count aggregate.
    "s17_multiclass_metrics" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scored = Learn.naiveBayes(docs.filter(col("doc_id") < 250), docs,
          "doc_id", "text", "lang")
        .filter(col("doc_id") >= 250)
      Learn.multiclassMetrics(scored, "actual", "pred_label")
        .orderBy("label")
    },

    // The weighted/aggregate half of MulticlassMetrics (reference
    // MulticlassMetrics.scala:143 accuracy + :162-:197 the weighted*
    // family + :95 falsePositiveRate — completing s17's per-label
    // rows): one row of label-count-weighted averages over the same
    // held-out NB confusion counts, every value an exact integer from
    // the per-label micro metrics.
    "s93_multiclass_weighted" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scored = Learn.naiveBayes(docs.filter(col("doc_id") < 250), docs,
          "doc_id", "text", "lang")
        .filter(col("doc_id") >= 250)
      Learn.multiclassWeighted(scored, "actual", "pred_label")
    },

    // Logistic regression (reference mllib/classification/
    // LogisticRegression.scala + optimization/GradientDescent.scala —
    // the most-used reference classifier): 8 full-batch quantized-
    // gradient iterations on order size features. The LABEL is derived
    // from the features plus a deterministic orderkey-hash noise term
    // (the synthetic orders table has o_totalprice independent of its
    // lineitems — measured corr ≈ -0.01 — so a price label would have
    // nothing to learn); qty + 5·(key%13) > 130 gives a real noisy
    // decision boundary the classifier reaches ~77% accuracy on (52%
    // base rate). Cohort scoring like s14.
    "s19_logistic_regression" -> { (s, dir) =>
      val feats = lrFeatures(s, dir, 10, 1000000)
      val w = Learn.logisticFit2(feats, iters = 8, lr = 1.0)
      Learn.logisticPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // THREE-feature binary logistic regression (reference
    // ml/classification/LogisticRegression fits arbitrary-width
    // vectors; s19 is the historical 2-feature scaffolding, which
    // logisticFitK reproduces byte-identically at d = 2, spec-pinned):
    // the s19 problem plus x3 = o_orderkey % 13 — the very term the
    // label's threshold mixes in, so the third feature carries REAL
    // signal the 2-feature model cannot see.
    "s105_logistic_k" -> { (s, dir) =>
      val feats = lrFeatures(s, dir, 10, 1000000)
        .withColumn("x3", expr("CAST(o_orderkey % 13 AS BIGINT)"))
      val w = Learn.logisticFitK(feats, d = 3, iters = 8, lr = 1.0)
      Learn.logisticPredictK(feats.filter(col("o_orderkey") <= 4000), w, 3, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // MULTINOMIAL softmax regression (reference LogisticRegression
    // .scala:91 numClasses > 2 — K−1 pivoted weight blocks, class 0
    // the pivot; Gradient.scala:60's multinomial branch IS the shared
    // softmax string; s43's OVR is the reduction, this the joint
    // model): three qty bands over centered features, twelve
    // full-batch ascent steps (enough that all three classes carry
    // predictions), cohort scored with the exact-complement p0 and
    // smallest-class tie argmax.
    "s87_softmax_regression" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST((qty DIV 10) - 10 AS BIGINT)").as("x2"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 150 THEN 2" +
          " WHEN qty + 5 * (o_orderkey % 13) > 115 THEN 1 ELSE 0 END AS BIGINT)").as("y"))
      val w = Learn.softmaxFit2(feats, iters = 12, lr = 2.0)
      Learn.softmaxPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // FOUR-class softmax regression (reference LogisticRegression
    // .scala:91 trains K-1 pivoted blocks for ANY numClasses; s87 is
    // the K = 3 scaffolding, which softmaxFitK reproduces
    // byte-identically — spec-pinned): four qty bands, twelve ascent
    // steps, nine exact gradient sums per round, argmax with ties to
    // the smallest class.
    "s107_softmax_k4" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST((qty DIV 10) - 10 AS BIGINT)").as("x2"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 165 THEN 3" +
          " WHEN qty + 5 * (o_orderkey % 13) > 135 THEN 2" +
          " WHEN qty + 5 * (o_orderkey % 13) > 105 THEN 1 ELSE 0 END AS BIGINT)").as("y"))
      val w = Learn.softmaxFitK(feats, kTot = 4, iters = 12, lr = 2.0)
      Learn.softmaxPredictK(feats.filter(col("o_orderkey") <= 4000), w, 4, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // The √t step decay + SquaredL2Updater (reference
    // GradientDescent.scala:226 stepSize/sqrt(iter); Updater.scala:93
    // w(1 − step·λ) − step·∇ — the two GradientDescent knobs every
    // full-batch fit here declared away): the s19 objective under
    // decaying, ridge-shrunk ascent steps. Each iteration's step is a
    // driver double literal pinned CAST AS DOUBLE in the shared
    // update string, so the whole 8-step trajectory is gated.
    "s85_sgd_decay_l2" -> { (s, dir) =>
      val feats = lrFeatures(s, dir, 10, 1000000)
      val w = Learn.logisticFitDecayL2(feats, iters = 8, lr0 = 1.0, lambda = 0.001)
      Learn.logisticPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // runMiniBatchSGD at miniBatchFraction < 1 (reference
    // GradientDescent.scala:177 per-iteration sample, :201 gradient
    // averaged over the SAMPLE size — the reference's actual stochastic
    // path; s19 is its fraction = 1.0 degenerate case): the s19
    // objective trained on rotating deterministic quarter-batches
    // (declared in Learn.logisticFitMiniBatch's scaladoc). Eight
    // noisier, 4x-cheaper steps — each batch's exact gradient sums are
    // the oracle's to re-derive, so the whole stochastic trajectory is
    // gated, not just the final boundary.
    "s84_minibatch_sgd" -> { (s, dir) =>
      val feats = lrFeatures(s, dir, 10, 1000000)
      val w = Learn.logisticFitMiniBatch(feats, "o_orderkey", iters = 8,
        lr = 1.0, batches = 4)
      Learn.logisticPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // L-BFGS (reference mllib/optimization/LBFGS.scala:40 — the second
    // registered optimizer; runLBFGS :169 drives breeze's two-loop over
    // the same distributed gradient aggregate): the s19 logistic
    // objective trained by memory-1 L-BFGS — the (s, y) correction pair
    // rides the 1-row state frame, every two-loop scalar one shared
    // double expression, curvature guard falling back to the plain
    // ascent step (deviations in Learn.lbfgsStages' scaladoc).
    "s50_lbfgs" -> { (s, dir) =>
      val feats = lrFeatures(s, dir, 10, 1000000)
      val w = Learn.lbfgsFit2(feats, iters = 6)
      Learn.logisticPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Decision tree depth 2 (reference mllib/tree/DecisionTree.scala
    // findBestSplits + impurity/Gini.scala): per-level histogram splits
    // over the same features/label as s19 — the tree's finer thresholds
    // reach ~89% where the linear boundary got 77%. Leaf ids encode the
    // root-to-leaf path; the oracle re-derives every split, so the whole
    // recursive selection is gated, not just the final populations.
    "s20_decision_tree" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 25, 1)
        .withColumnRenamed("yq", "y")
      Learn.decisionTree2(rows)._1.orderBy("leaf")
    },

    // Pre-pruning stopping criteria (reference DecisionTree.scala:736
    // minInstancesPerNode — both children must keep >= the floor —
    // and :753 minInfoGain; Strategy.scala:78-79 carries both): the
    // s20 tree re-fit with the criteria tight enough that a level-2
    // node's best surviving split is REJECTED and the node stays a
    // leaf — the output has 3 leaves where s20 has 4, and the pruned
    // node surfaces at depth 1. Gated alongside the surviving splits,
    // so the filter itself (not just the final shape) is on the
    // oracle path.
    "s80_pruned_tree" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 25, 1)
        .withColumnRenamed("yq", "y")
      // gains at sf0.01: node 2's best split improves 36.7 milli/row,
      // node 3's 45.4 — the 40-milli floor rejects exactly one, so the
      // pruned tree is 3 leaves (2, 6, 7) where s20 has 4
      val (leaves, splits) = Learn.decisionTree2(rows,
        minInstancesPerNode = 500L, minGainMilli = 40L)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "n_pos", "pred",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // Entropy-impurity decision tree (reference mllib/tree/impurity/
    // Entropy.scala:40 −Σ p·log p, selected via Strategy.impurity and
    // Impurities.scala:30 — same findBestSplits histogram machinery as
    // s20's Gini, only the split score changes; milli-nat quantized, no
    // integer division in the score so the formula string is shared with
    // zero DIV/floor seams). Emits leaves AND the chosen splits so the
    // argmax itself is gated against the Gini variant's.
    "s45_entropy_tree" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 25, 1)
        .withColumnRenamed("yq", "y")
      val (leaves, splits) = Learn.decisionTree2(rows, impurity = "entropy")
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "n_pos", "pred",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // maxBins quantile binning on a genuinely CONTINUOUS feature
    // (reference mllib/tree/DecisionTree.scala:966 findSplitsBins /
    // :1000 findSplitsBinsBySorting): x1 is the raw order price in
    // cents — 14999 distinct values in 15000 rows at sf0.01, the shape
    // whose per-value histogram the s20 machinery must NOT sweep — and
    // x2 the order date's day offset. A deterministic 1-in-4 hash
    // sample feeds the per-feature rank pass (the reference samples to
    // ~10000·maxBins before its in-memory sort), thresholds land on
    // the sample's order statistics at ranks (cnt·b) DIV 8, and the
    // gini tree then fits on bin UPPER EDGES, so every split window is
    // ≤ 2·8 candidate rows per node. Gated output: the leaves AND each
    // leaf's parent split — the chosen thresholds are bin edges, so
    // the quantile pass itself is on the gated path.
    "s74_binned_tree" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x1"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("x2"),
        expr("CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT)").as("y"))
      val binned = Learn.binnedFeatures(rows, Seq("x1", "x2"), "o_orderkey",
        maxBins = 8, sampleMod = 4)
      val (leaves, splits) = Learn.decisionTree2(binned)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "n_pos", "pred",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // UNORDERED categorical feature splits (reference mllib/tree/
    // configuration/Strategy.scala:77 categoricalFeaturesInfo + the
    // categorical branch of DecisionTree.scala:966 findSplitsBins):
    // feature 1 is o_orderstatus — split candidates are centroid-order
    // PREFIXES (membership sets), not value-order cuts. The label is a
    // per-status keyed coin (O ≈ 0.1, F ≈ 0.9, P ≈ 0.8 positive rate),
    // so the centroid order is O < P < F while the codepoint order is
    // The s74 binning chain gated at DEPTH 3 (reference mllib/tree/
    // DecisionTree.scala trains level-synchronously to arbitrary
    // maxDepth; every other gated tree row runs maxDepth = 2, so the
    // level loop's third generation — grandchild nodes splitting the
    // depth-2 leaves — was spec-only until this row). Same continuous
    // x1/x2 binning, one more level: up to 8 leaves, each still carrying
    // its parent split, so the third-generation argmax and routing are
    // on the gated path. LearnSpec pins a fixture whose depth-3 leaf
    // set provably differs from depth 2.
    "s99_binned_tree_depth3" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x1"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("x2"),
        expr("CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT)").as("y"))
      val binned = Learn.binnedFeatures(rows, Seq("x1", "x2"), "o_orderkey",
        maxBins = 8, sampleMod = 4)
      val (leaves, splits) = Learn.decisionTree2(binned, maxDepth = 3)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "n_pos", "pred",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // THREE-feature gini tree (reference DecisionTree.scala trains on
    // arbitrary-width vectors; every other gated tree row runs the
    // historical 2-feature scaffolding — decisionTreeK generalizes the
    // feature axis, reproducing the 2-feature machinery byte-identically
    // at nFeats = 2, LearnSpec-pinned). Per-order features: item count,
    // qty decile, max line price in 20k buckets; all three compete in
    // the same per-node argmax (feat-index tiebreak).
    "s102_tree_3feat" -> { (s, dir) =>
      val rows = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) DIV 10 AS BIGINT)").as("x2"),
          expr("CAST(CAST(round(max(l_extendedprice)) AS BIGINT) DIV 20000 AS BIGINT)").as("x3"))
        .join(Tables.orders(s, dir).selectExpr("o_orderkey",
          "CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS y"),
          "o_orderkey")
      val (leaves, splits) = Learn.decisionTreeK(rows, nFeats = 3, maxDepth = 2)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "n_pos", "pred",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // F < O < P: the optimal root split {O} | {F, P} is NOT contiguous
    // in value order — an ordered-integer tree cannot express it
    // (LearnSpec pins the divergence on a fixture). x2 = o_orderkey % 7
    // is label-independent noise the argmax must reject. Gated output:
    // per-leaf counts/vote from routing RAW statuses through the fitted
    // IN-set CASE, plus each leaf's parent split rendered as its
    // membership set — the centroid ranking, the subset translation AND
    // the categorical routing are all on the gated path.
    "s88_categorical_tree" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).selectExpr(
        "o_orderstatus AS cat",
        "CAST(o_orderkey % 7 AS BIGINT) AS x2",
        "CAST(CASE WHEN o_orderstatus = 'O' THEN CASE WHEN o_orderkey % 10 < 1 THEN 1 ELSE 0 END" +
          " WHEN o_orderstatus = 'F' THEN CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE 0 END" +
          " ELSE CASE WHEN o_orderkey % 10 < 8 THEN 1 ELSE 0 END END AS BIGINT) AS y")
      Learn.categoricalTree2(rows, "cat", "x2", "y", maxDepth = 2)
        .orderBy("leaf")
    },

    // MULTICLASS unordered categorical splits (reference DecisionTree
    // .scala:966's SUBSET-enumeration branch: with > 2 classes the
    // centroid-ordering trick is invalid — no single ordering makes the
    // optimal subset a prefix — so an unordered feature gets all
    // 2^(K−1)−1 subset candidates, COMPETING in the same per-node
    // argmax as the ordered feature's thresholds, findBestSplits'
    // mixed-feature semantics). o_orderstatus against a 3-class keyed
    // label (O ≈ 80/0/20, F ≈ 20/0/80, P ≈ 10/90/0 over classes 0/1/2)
    // plus x2 = o_orderkey % 7 label-independent noise the argmax must
    // reject where the categorical signal lives: every split of
    // {F, O, P} is evaluated as a SET next to the seven numeric
    // thresholds, per-level work after the two histogram passes is
    // nodes × (K·subsets + 7) bounded, and leaves carry full per-class
    // counts + the parent's cut (membership set or threshold).
    // LearnSpec pins the fixture where the best subset isolates the
    // MIDDLE category of the label-mean order — unreachable for any
    // prefix scheme — and a numeric-signal fixture where the threshold
    // candidate must win.
    "s90_multiclass_categorical" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).selectExpr(
        "o_orderstatus AS cat",
        "CAST(o_orderkey % 7 AS BIGINT) AS x2",
        "CAST(CASE WHEN o_orderstatus = 'O' THEN CASE WHEN o_orderkey % 10 < 8 THEN 0 ELSE 2 END" +
          " WHEN o_orderstatus = 'F' THEN CASE WHEN o_orderkey % 10 < 8 THEN 2 ELSE 0 END" +
          " ELSE CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE 0 END END AS BIGINT) AS y")
      Learn.multiclassCategoricalTree(rows, "cat", "y", maxDepth = 2, x2Col = "x2")
        .orderBy("leaf")
    },

    // Categorical REGRESSION tree (the centroid rule's other half —
    // DecisionTree.scala:966 orders categories by label centroid for
    // binary classification AND regression): per-status milli targets
    // put O's mean far below P and F (codepoint order F < O < P,
    // centroid order O < P < F), so the variance-optimal root split
    // {O} | {F, P} is again non-contiguous in value order.
    "s91_categorical_reg_tree" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).selectExpr(
        "o_orderstatus AS cat",
        "CAST(o_orderkey % 7 AS BIGINT) AS x2",
        "CAST(CASE WHEN o_orderstatus = 'O' THEN 1000" +
          " WHEN o_orderstatus = 'F' THEN 9000 ELSE 8000 END" +
          " + (o_orderkey % 100) * 10 AS BIGINT) AS ym")
      Learn.categoricalRegressionTree2(rows, "cat", "x2", "ym", maxDepth = 2)
        .orderBy("leaf")
    },

    // Random forest (reference mllib/tree/RandomForest.scala — bagged
    // histogram trees, majority vote): three depth-2 trees over the
    // s19/s20 features, each trained on the deterministic id % 3 != t
    // two-thirds subset (the Poisson-bagging analog the oracle can
    // replay), cohort scored by three broadcast route joins + one vote.
    "s25_random_forest" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 25, 1).withColumnRenamed("yq", "y")
      Learn.randomForest2(rows, rows.filter(col("o_orderkey") <= 4000), "o_orderkey")
        .orderBy("o_orderkey")
    },

    // featureSubsetStrategy (reference RandomForest.scala:121 "auto" →
    // "sqrt" for classification; √2 = 1 feature per tree at this
    // width — the column subsampling that separates a random FOREST
    // from plain bagging; deterministic rotation + per-tree granularity
    // declared in Learn.featureSubsetForest2's scaladoc): the s25
    // forest re-fit with tree t restricted to feature (t % 2) + 1 by
    // structurally zeroing the other column — its constant histogram
    // keeps no valid split, so the restriction is provable in the
    // gated split tables, and single-feature trees genuinely disagree
    // with s25's two-feature members on the cohort votes.
    "s83_rf_feature_subset" -> { (s, dir) =>
      val rows = lrFeatures(s, dir, 25, 1).withColumnRenamed("yq", "y")
      Learn.featureSubsetForest2(rows, rows.filter(col("o_orderkey") <= 4000),
          "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Linear SVM (reference mllib/classification/SVM.scala +
    // optimization/Gradient.scala HingeGradient): 8 full-batch hinge
    // subgradient steps on the s19 features with x2 CENTERED (hinge GD
    // from zero oscillates on offset features — measured 52% vs 89%
    // accuracy); the violator test is an exact integer margin compare,
    // so not one double touches the decision set.
    "s27_linear_svm" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST((qty DIV 10) - 10 AS BIGINT)").as("x2"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT)").as("ys"))
      val w = Learn.svmFit2(feats, iters = 8, lr = 0.5)
      Learn.svmPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // THREE-feature linear SVM (reference SVMWithSGD fits
    // arbitrary-width vectors; svmFitK reproduces the 2-feature
    // machinery byte-identically at d = 2, spec-pinned): the s27
    // problem plus the CENTERED x3 = (o_orderkey % 13) - 6 — the
    // label's own noise term, real margin signal the 2-feature
    // violator set cannot use.
    "s106_svm_k" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST((qty DIV 10) - 10 AS BIGINT)").as("x2"),
        expr("CAST((o_orderkey % 13) - 6 AS BIGINT)").as("x3"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT)").as("ys"))
      val w = Learn.svmFitK(feats, d = 3, iters = 8, lr = 0.5)
      Learn.svmPredictK(feats.filter(col("o_orderkey") <= 4000), w, 3, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // The reference's DEFAULT SVM (SVM.scala:71 regParam 0.01 through
    // SquaredL2Updater — s27 runs the regParam = 0 setting): the same
    // hinge violator set with ridge-shrunk ascent steps, margins pulled
    // toward zero while the sign boundary holds.
    "s86_svm_l2" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST((qty DIV 10) - 10 AS BIGINT)").as("x2"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT)").as("ys"))
      val w = Learn.svmFitL2(feats, iters = 8, lr = 0.5, lambda = 0.01)
      Learn.svmPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Gradient-boosted trees (reference mllib/tree/GradientBoostedTrees
    // .scala — squared-loss boosting, each round a regression tree on the
    // residuals): three boosted stumps on a milli-quantized continuous
    // target (qty + the s19 hash noise). Split constants are exact
    // integers the oracle re-derives round by round, so the whole
    // residual chain is gated.
    "s26_gradient_boosted" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      val (f0, model) = Learn.gbtFit2(rows, rounds = 3)
      Learn.gbtPredict2(rows.filter(col("o_orderkey") <= 4000), "o_orderkey", f0, model)
        .orderBy("o_orderkey")
    },

    // Validation-driven early stopping (reference GradientBoostedTrees
    // .scala:94 runWithValidation; :255's stop test inside boost()):
    // the s26 stump chain re-run with a deterministic 3:1 split
    // (o_orderkey % 4 — the randomSplit stand-in, declared), the exact
    // integer mean-squared validation residual tracked per round, and
    // training HALTING at the first round whose improvement over the
    // best-so-far falls under tolMicro ppm of max(cur, 10) — the
    // reference's validationTol·max(err, 0.01) test integerized. Every
    // executed round is a gated row carrying its split, its validation
    // error, the reference's bestM in_model slice, and the stop marker;
    // the oracle unrolls all rounds, re-derives the stop round from the
    // same error series, and emits exactly the executed prefix.
    "s76_gbt_validated" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      Learn.gbtFitValidated(
          feats.filter("o_orderkey % 4 != 0"), feats.filter("o_orderkey % 4 = 0"),
          maxRounds = 8, tolMicro = 100000L)
        .orderBy("round")
    },

    // learningRate shrinkage (reference GradientBoostedTrees.scala:245
    // baseLearnerWeights(m) = learningRate, the :209 first tree keeping
    // weight 1.0 — f0's role here; closes s26's declared lr = 1.0
    // deviation): four L2 stump rounds at lr = 0.5, the leaf means
    // scaled INSIDE the single round() so the residual chain stays
    // one-rounding exact. More, smaller steps — the regularization
    // users actually run GBT with.
    "s81_gbt_shrinkage" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      val (f0, model) = Learn.gbtFit2(rows, rounds = 4, lr = 0.5)
      Learn.gbtPredict2(rows.filter(col("o_orderkey") <= 4000), "o_orderkey", f0, model)
        .orderBy("o_orderkey")
    },

    // Gradient-boosted regression TREES (reference GradientBoostedTrees
    // .scala:54 — the reference's real learner shape next to the
    // declared-stump chains s26/s52/s67: three rounds of depth-2
    // variance trees on the s26 continuous target at learningRate 1.0,
    // where round 1 on raw labels IS the reference's :150 seed tree;
    // see Learn.gbtTreesFit2): the whole three-tree residual chain is
    // re-derived split-by-split by the oracle.
    "s68_gbt_trees" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      val model = Learn.gbtTreesFit2(rows, rounds = 3, maxDepth = 2)
      Learn.gbtTreesPredict2(rows.filter(col("o_orderkey") <= 4000),
          "o_orderkey", model)
        .orderBy("o_orderkey")
    },

    // REGRESSION random forest (reference mllib/tree/RandomForest
    // .scala:96 trainRegressor — bagged variance trees, predictions
    // AVERAGED; bagging/feature-subset deviations declared on
    // Learn.randomForestReg2): three depth-2 s66-machinery trees on the
    // s26 continuous target, each member's leaf constant gated on every
    // cohort row alongside the ensemble mean.
    "s69_rf_regression" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      Learn.randomForestReg2(rows, rows.filter(col("o_orderkey") <= 4000),
          "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Variance-impurity REGRESSION tree (reference mllib/tree/
    // DecisionTree.scala:248 trainRegressor + impurity/Variance.scala:52
    // — the third and last of the reference's impurities, closing the
    // family next to s20's Gini and s45's entropy; mechanics and the
    // Σy²-cancellation argument on Learn.regressionTree2): two histogram
    // levels on the s26 continuous target, leaves predicting rounded
    // mean milli-targets, every chosen split gated through the parent
    // join like s45.
    "s66_regression_tree" -> { (s, dir) =>
      val rows = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT)").as("ym"))
      val (leaves, splits) = Learn.regressionTree2(rows)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "sy", "pred_milli",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // The s74 binning mechanism under the VARIANCE impurity (reference
    // DecisionTree.scala:966 findSplitsBins feeding :248 trainRegressor
    // — continuous features AND a continuous target: raw price cents +
    // date offset regress the noisy dollar total through maxBins=8
    // quantile edges, so the s66 histogram machinery runs bins-bounded
    // on inputs whose raw distinct count equals the row count). Target
    // stays in WHOLE DOLLARS (the s29 convention): the variance argmax's
    // mean·Σ|target| product needs |mean| ≈ 5e5 · Σ ≈ 7.5e9 ≈ 4e15 —
    // milli units would overflow BIGINT at this price scale.
    "s78_binned_reg_tree" -> { (s, dir) =>
      val rows = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x1"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("x2"),
        expr("CAST(round(o_totalprice) + 100 * (o_orderkey % 13) AS BIGINT)").as("ym"))
      val binned = Learn.binnedFeatures(rows, Seq("x1", "x2"), "o_orderkey",
        maxBins = 8, sampleMod = 4)
      val (leaves, splits) = Learn.regressionTree2(binned)
      leaves.join(splits.selectExpr("node AS leaf_parent", "feat", "thr", "score"),
          expr("leaf DIV 2 = leaf_parent"), "left")
        .selectExpr("leaf", "n", "sy", "pred_milli AS pred_dollars",
          "coalesce(feat, CAST(0 AS BIGINT)) AS parent_feat",
          "coalesce(thr, CAST(-1 AS BIGINT)) AS parent_thr",
          "coalesce(score, CAST(0 AS BIGINT)) AS parent_score")
        .orderBy("leaf")
    },

    // StandardScaler + closed-form 2-feature PCA (reference mllib/
    // feature/{StandardScaler,PCA}.scala) wired as PIPELINE stages (the
    // s10 contract gains a numeric path): both fitted from ONE exact-
    // integer-sum scan, z-scores and the principal projection
    // micro-quantized, eigenvalues gated through the per-row
    // explained-variance column.
    // Multilayer perceptron (reference ml/ann/Layer.scala affine +
    // sigmoid stack via FeedForwardTopology.multiLayerPerceptron:319,
    // driven by ml/classification/MultilayerPerceptronClassifier
    // .scala:154 — mechanics and declared deviations on Learn.mlpFitDh):
    // the smallest 2-2-1 net on the s19 problem, two full-batch quantized
    // backprop steps, then cohort scoring with the hidden activations
    // gated alongside the output.
    "s44_mlp" -> { (s, dir) =>
      Learn.mlpFitPredictDh(lrFeatures(s, dir, 10, 1000000L), d = 2, h = 2,
        iters = 2, lr = 1.0, "o_orderkey", 2000L)
    },

    // The same kernel at (d, h) = (3, 3) (the reference's layers:
    // Array[Int] takes any widths): a 3-3-1 net over the s19 base plus a
    // third orderkey-residue feature (MlpDhSpec shows 3-3-1 learning an
    // x1 xor x3 parity the 2-2-1 net cannot see). Two backprop steps,
    // cohort scoring with all three hidden activations gated.
    "s112_mlp_dh" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
        expr("CAST(qty DIV 10 AS BIGINT)").as("x2"),
        expr("CAST(o_orderkey % 7 AS BIGINT)").as("x3"),
        expr("CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1000000 ELSE 0 END AS BIGINT)").as("yq"))
      Learn.mlpFitPredictDh(feats, d = 3, h = 3, iters = 2, lr = 1.0,
        "o_orderkey", 2000L)
    },

    // One-vs-rest multiclass reduction (reference ml/classification/
    // OneVsRest.scala:165 fit / :108 transform / :131 argmax — mechanics
    // and the quantized-tie deviation on Learn.oneVsRest): three
    // qty-tercile classes over the s19 feature base, 4 logistic
    // iterations per binary model, full score vector + argmax prediction
    // for the o_orderkey <= 2000 cohort.
    "s43_one_vs_rest" -> { (s, dir) =>
      Learn.oneVsRest(ovrFeats(s, dir), Seq(0, 1, 2), iters = 4, lr = 1.0,
        "o_orderkey", 2000L)
    },

    // Cross-validated grid search (reference ml/tuning/CrossValidator
    // .scala:89 + ParamGridBuilder + RegressionEvaluator — mechanics and
    // declared deterministic-fold deviation on Learn.gridRidgeCv): ridge
    // lambda grid {0, 10, 1000} over the whole-dollar OLS problem,
    // 3 folds by o_orderkey % 3, per-lambda averaged RMSE, winner refit
    // on the full data. One row per lambda; the refit model rides every
    // row.
    "s40_cross_validation" -> { (s, dir) =>
      Learn.gridRidgeCv(cvFeats(s, dir), "fold", 3, Seq(0.0, 10.0, 1000.0))
    },

    // TrainValidationSplit (reference ml/tuning/TrainValidationSplit
    // .scala:80 — the single-split variant of the CV loop; trainRatio
    // here is the deterministic 2/3 complement of fold 0): same grid,
    // scored on fold 0 only, winner refit on the full data.
    "s41_train_validation_split" -> { (s, dir) =>
      Learn.gridRidgeCv(cvFeats(s, dir), "fold", 3, Seq(0.0, 10.0, 1000.0),
        tvsFold = Some(0))
    },

    // Feature-transformer gauntlet (reference ml/feature/*, one stage per
    // file: StringIndexer.scala:84 frequency-desc indexing with the tie
    // pinned to label ASC, OneHotEncoder.scala dropLast=true k−1
    // indicators, Bucketizer.scala:92 right-exclusive splits with an
    // inclusive last bound, Binarizer.scala:48 strictly-greater
    // threshold, MinMaxScaler.scala:118/:146 [0,1] rescale,
    // mllib/feature/Normalizer.scala:39 L2, mllib/feature/
    // ElementwiseProduct.scala:31 Hadamard scale). One Chain fitted on
    // the FULL order set (two tiny fit aggregates: label frequencies,
    // min/max), transform is a pure codegen projection; output cohort
    // o_orderkey <= 2000.
    "s39_feature_transformers" -> { (s, dir) =>
      val base = Tables.orders(s, dir).selectExpr(
        "o_orderkey", "o_orderpriority AS prio",
        "CAST(round(o_totalprice) AS BIGINT) AS price",
        "CAST(o_custkey % 100 AS BIGINT) AS custf")
      val chain = new Chain(Seq(
        StringIndexerStage("prio", "prio_idx"),
        OneHotStage("prio_idx", "oh", 5),
        BucketizerStage("price", "bucket",
          Seq(0L, 50000L, 150000L, 300000L, 1000000000L)),
        BinarizerStage("custf", "cust_bin", 50L),
        MinMaxScalerStage("price", "price_mm_milli"),
        Normalizer2Stage("price", "custf", "nrm_price_milli", "nrm_custf_milli"),
        ElementwiseProductStage(Seq(("price", "ew_price", 2L), ("custf", "ew_custf", 3L)))))
      chain.fit(base).transform(base)
        .filter(col("o_orderkey") <= 2000)
        .select("o_orderkey", "prio", "prio_idx", "oh_0", "oh_1", "oh_2",
          "oh_3", "bucket", "cust_bin", "price_mm_milli",
          "nrm_price_milli", "nrm_custf_milli", "ew_price", "ew_custf")
        .orderBy("o_orderkey")
    },

    "s21_pca_features" -> { (s, dir) =>
      val feats = ordersBase(s, dir).select(
        col("o_orderkey"), col("x1"), col("qty").as("x2"))
      val pipe = new Chain(Seq(
        StandardScaler2("x1", "x2", "z1_micro", "z2_micro"),
        Pca2("x1", "x2", "pc1_micro", "evr_micro")))
      pipe.fit(feats).transform(feats)
        .filter(col("o_orderkey") <= 4000)
        .select("o_orderkey", "z1_micro", "z2_micro", "pc1_micro", "evr_micro")
        .orderBy("o_orderkey")
    },

    // General k-dim PCA (reference mllib/linalg/distributed/RowMatrix
    // .scala:385 computePrincipalComponents — s21 is the closed-form
    // d = 2 slice; this is the general driver-bounded eigensolve,
    // conventions in Pca's scaladoc): top-2 components of the 4-feature
    // lineitem matrix (qty, price-in-hundreds, discount%, tax%) — the
    // qty/price correlation dominates pc1. The cyclic-Jacobi layers are
    // generated expression strings shared verbatim with the oracle, so
    // the whole eigensolve is oracle-gated, not just the projection.
    "s97_pca_k" -> { (s, dir) =>
      graft.ext.Pca.pcaK(pcaFeats(Tables.lineitem(s, dir)), d = 4, k = 2)
        .orderBy("pc", "dim")
    },

    // Principal-component SCORES (reference RowMatrix.scala:385 fit +
    // the multiply(pc) consumer step — project every row onto the
    // fitted components): the s97 eigensolve's state broadcast onto one
    // centered corpus scan, cohort-limited output. Gates the projection
    // arithmetic (centering means off the same moment columns, rank-r
    // column pick, sign fix) on top of the same Jacobi chain.
    "s100_pca_project" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .selectExpr("CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid" +:
          pcaFeatsSql: _*)
      graft.ext.Pca.pcaProject(feats, d = 4, k = 2, idCol = "rid")
        .filter(col("rid") <= 40000)
        .orderBy("rid")
    },

    // General d-feature OLS (reference ml/regression/LinearRegression
    // fits arbitrary-width vectors; s14/s29's closed-form Cramer solve
    // is the d = 2 slice — Solve.olsK eliminates the (d+1)x(d+1) SPD
    // normal equations by generated pivoting-free Gaussian layers, the
    // s97 shared-expression discipline, so the whole solve is
    // oracle-gated): three per-order features against whole-dollar
    // order totals, cohort-scored.
    "s103_ols_k" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("x2"),
          expr("CAST(CAST(round(max(l_extendedprice)) AS BIGINT) DIV 100 AS BIGINT)").as("x3"))
        .join(Tables.orders(s, dir).selectExpr("o_orderkey",
          "CAST(round(o_totalprice) AS BIGINT) AS y"), "o_orderkey")
      graft.ext.Solve.olsK(feats, d = 3, idCol = "o_orderkey")
        .filter(col("o_orderkey") <= 4000)
        .orderBy("o_orderkey")
    },

    // WEIGHTED least squares (reference ml/optim/WeightedLeastSquares —
    // the normal-equation solver LinearRegression's "normal" mode runs;
    // weightCol per ml/PredictorParams): the s103 elimination over
    // item-count-weighted per-order moments — big orders pull the fit
    // harder, exactly as the reference's instance weights do. Spec pins
    // the repeat-row identity (weight w == the row w times, bit-exact).
    "s108_wls" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("w"),
          expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) DIV count(*) AS BIGINT)").as("x1"),
          expr("CAST(CAST(round(max(l_extendedprice)) AS BIGINT) DIV 100 AS BIGINT)").as("x2"))
        .join(Tables.orders(s, dir).selectExpr("o_orderkey",
          "CAST(round(o_totalprice) AS BIGINT) AS y"), "o_orderkey")
      graft.ext.Solve.wlsK(feats, d = 2, idCol = "o_orderkey", weightCol = "w")
        .filter(col("o_orderkey") <= 4000)
        .orderBy("o_orderkey")
    },

    // General d-feature RIDGE (reference ml/regression/LinearRegression
    // with regParam > 0, elasticNetParam = 0 — s23's penalized Cramer
    // solve generalized: Solve.olsK's elimination with n*lambda on the
    // weight diagonal, intercept unpenalized): the s103 problem at
    // lambda = 0.1, so the two rows differ exactly by the penalty.
    "s104_ridge_k" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("x2"),
          expr("CAST(CAST(round(max(l_extendedprice)) AS BIGINT) DIV 100 AS BIGINT)").as("x3"))
        .join(Tables.orders(s, dir).selectExpr("o_orderkey",
          "CAST(round(o_totalprice) AS BIGINT) AS y"), "o_orderkey")
      graft.ext.Solve.olsK(feats, d = 3, idCol = "o_orderkey", lambda = 0.1)
        .filter(col("o_orderkey") <= 4000)
        .orderBy("o_orderkey")
    },

    // Ridge regression (reference mllib/regression/RidgeRegression.scala
    // — SGD + SquaredL2Updater there; the penalized normal equations stay
    // closed-form at 2 features): the s14 problem with lambda = 0.1 on the
    // weight diagonal. Same one-scan sufficient statistics; only the
    // Cramer matrix changes, and the lambda literal rides the shared
    // formula string into the oracle.
    "s23_ridge_regression" -> { (s, dir) =>
      val feats = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("x2"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y")),
          "o_orderkey")
      val betas = Learn.ridgeFit2(feats, lambda = 0.1)
      Learn.olsPredict2(feats.filter(col("o_orderkey") <= 4000), betas, "o_orderkey")
        .withColumnRenamed("y", "cents")
        .orderBy("o_orderkey")
    },

    // FP-growth k = 3 (reference mllib/fpm/FPGrowth.scala — the
    // arbitrary-k lattice step s16 elides): frequent brand TRIPLES with
    // the full Apriori subset prune. Triples are ~5x rarer than pairs
    // here, so the support floor drops to 0.4% (the 1% pair floor keeps
    // zero triples); the floor still BINDS — roughly half the candidate
    // triples fall below it.
    "s22_frequent_triples" -> { (s, dir) =>
      val baskets = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      Learn.frequentTriples(baskets, "basket", "item", minSupport = 0.004)
        .orderBy("item_a", "item_b", "item_c")
    }
  )

  /** Purchase ratings (u = customer, i = supplier, r = min(5,
    * n_lineitems)) — the s12-family ALS / SVD++ input; [[ratingsCte]]
    * is its DuckDB mirror. */
  private def purchaseRatings(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_suppkey").as("i"))
      .agg(least(lit(5L), count(lit(1))).as("r"))

  /** Per-order (o_orderkey, x1 = n_lineitems, qty = total quantity) —
    * the shared feature base of s19/s20/s21. */
  private def ordersBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("x1"),
        expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("qty"))

  /** The s97 PCA base: four per-lineitem features with one dominant
    * correlation (qty ↔ price) and two near-independent percent columns.
    * The SQL body is shared with the oracle's feats CTE. */
  private val pcaFeatsSql = Seq(
    "CAST(round(l_quantity) AS BIGINT) AS x1",
    "CAST(round(l_extendedprice / 100.0) AS BIGINT) AS x2",
    "CAST(round(l_discount * 100.0) AS BIGINT) AS x3",
    "CAST(round(l_tax * 100.0) AS BIGINT) AS x4")

  private def pcaFeats(lineitem: DataFrame): DataFrame =
    lineitem.selectExpr(pcaFeatsSql: _*)

  /** The s43 OVR base: s19's (x1, x2 = qty div 10) features with a
    * three-way qty-tercile class label. */
  private def ovrFeats(s: SparkSession, dir: String): DataFrame =
    ordersBase(s, dir).selectExpr("o_orderkey", "x1",
      "CAST(qty DIV 10 AS BIGINT) AS x2",
      "CAST(CASE WHEN qty <= 80 THEN 0 WHEN qty <= 160 THEN 1 ELSE 2 END AS BIGINT) AS cls")

  /** The s40/s41 model-selection base: the s29 whole-dollar OLS problem
    * (x1 = n_lineitems, x2 = total qty, y = round(o_totalprice) dollars)
    * plus the deterministic fold key o_orderkey % 3. */
  private def cvFeats(s: SparkSession, dir: String): DataFrame =
    ordersBase(s, dir)
      .join(Tables.orders(s, dir)
        .selectExpr("o_orderkey", "CAST(round(o_totalprice) AS BIGINT) AS y"),
        "o_orderkey")
      .selectExpr("CAST(o_orderkey % 3 AS BIGINT) AS fold", "x1",
        "qty AS x2", "y")

  /** s19/s20 features + label: x2 = qty div `xDiv`, yq = `yScale` iff
    * qty + 5·(o_orderkey % 13) > 130 else 0 (see the s19 comment for why
    * the label is feature-derived). */
  private def lrFeatures(s: SparkSession, dir: String,
                         xDiv: Int, yScale: Long): DataFrame =
    ordersBase(s, dir).select(col("o_orderkey"), col("x1"),
      expr(s"CAST(qty DIV $xDiv AS BIGINT)").as("x2"),
      expr(s"CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN $yScale ELSE 0 END AS BIGINT)").as("yq"))

  /** DuckDB mirror of [[purchaseRatings]]. */
  private val ratingsCte =
    """ratings AS MATERIALIZED (
      |  SELECT o.o_custkey AS u, l.l_suppkey AS i,
      |         least(5, count(*))::BIGINT AS r
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  /** The s89 planted nonnegative rank-2 ratings over the observed
    * purchase pairs. */
  private val plantedRatingsCte =
    """ratings AS MATERIALIZED (
      |  SELECT u, i,
      |    CAST((1 + u % 3) * (1 + i % 4) + (u % 2) * (i % 3) AS BIGINT) AS r
      |  FROM (SELECT DISTINCT o.o_custkey AS u, l.l_suppkey AS i
      |        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey))""".stripMargin

  /** The unrolled ALS fit shared by every ALS oracle: the `ratings` CTE,
    * the rank-`rank` item init (Recommend.initFactorExprsK) and four
    * half-steps through `solve` (out, other, solveKey, otherKey), ending
    * at users x2 and items y2. */
  private def alsChainCtes(ratings: String, rank: Int,
                           solve: (String, String, String, String) => String): String =
    s"""$ratings,
       |y0 AS MATERIALIZED (
       |  SELECT i, ${graft.ext.Recommend.initFactorExprsK(rank, "i").mkString(",\n    ")}
       |  FROM (SELECT DISTINCT i FROM ratings)),
       |${solve("x1", "y0", "u", "i")},
       |${solve("y1", "x1", "i", "u")},
       |${solve("x2", "y1", "u", "i")},
       |${solve("y2", "x2", "i", "u")}""".stripMargin

  /** Nonnegative half-step mirror: five exact BIGINT sums (CAST from
    * DuckDB's HUGEINT), the closed 2x2 Cramer doubles with every constant
    * pinned ::DOUBLE, then Recommend.solveSideNonneg's
    * rank-2 NNLS enumeration CASE verbatim (interior solve if
    * nonnegative, else the lower-objective boundary candidate). */
  private def alsNonnegSolveCte(out: String, other: String,
                                solveKey: String, otherKey: String): String = {
    val a11 = "((a11 / 4294967296.0::DOUBLE) + 0.1::DOUBLE)"
    val a22 = "((a22 / 4294967296.0::DOUBLE) + 0.1::DOUBLE)"
    val a12 = "(a12 / 4294967296.0::DOUBLE)"
    val bd1 = "(b1 / 65536.0::DOUBLE)"
    val bd2 = "(b2 / 65536.0::DOUBLE)"
    val det = s"(($a11 * $a22) - ($a12 * $a12))"
    val x1u = s"((($a22 * $bd1) - ($a12 * $bd2)) / $det)"
    val x2u = s"((($a11 * $bd2) - ($a12 * $bd1)) / $det)"
    val c1 = s"(CASE WHEN b1 > 0 THEN ($bd1 / $a11) ELSE 0.0::DOUBLE END)"
    val c2 = s"(CASE WHEN b2 > 0 THEN ($bd2 / $a22) ELSE 0.0::DOUBLE END)"
    val o1 = s"(((0.5::DOUBLE * $a11) * ($c1 * $c1)) - ($bd1 * $c1))"
    val o2 = s"(((0.5::DOUBLE * $a22) * ($c2 * $c2)) - ($bd2 * $c2))"
    val interior = s"($x1u >= 0.0::DOUBLE AND $x2u >= 0.0::DOUBLE)"
    def quant(x: String) =
      s"CAST(round(($x) * 65536.0::DOUBLE) AS BIGINT)"
    s"""$out AS MATERIALIZED (
       |  SELECT $solveKey,
       |    ${quant(s"CASE WHEN $interior THEN $x1u WHEN $o1 <= $o2 THEN $c1 ELSE 0.0::DOUBLE END")} AS f1q,
       |    ${quant(s"CASE WHEN $interior THEN $x2u WHEN $o1 <= $o2 THEN 0.0::DOUBLE ELSE $c2 END")} AS f2q
       |  FROM (
       |    SELECT r.$solveKey,
       |      CAST(sum(o.f1q * o.f1q) AS BIGINT) AS a11,
       |      CAST(sum(o.f1q * o.f2q) AS BIGINT) AS a12,
       |      CAST(sum(o.f2q * o.f2q) AS BIGINT) AS a22,
       |      CAST(sum(r.r * o.f1q) AS BIGINT) AS b1,
       |      CAST(sum(r.r * o.f2q) AS BIGINT) AS b2
       |    FROM ratings r JOIN $other o ON o.$otherKey = r.$otherKey
       |    GROUP BY r.$solveKey))""".stripMargin
  }

  /** General-rank ALS half-step CTE: the per-key sums subquery wrapped
    * by Recommend.alsSolveLayersK's projection layers — the SAME
    * generated text the Spark side runs, nested as derived tables (each
    * referenced once, so no DuckDB re-evaluation blowup). */
  private def alsSolveCteK(out: String, other: String, solveKey: String,
                           otherKey: String, rank: Int): String = {
    val sums =
      (for { i <- 1 to rank; j <- i to rank }
        yield s"CAST(sum(o.f${i}q * o.f${j}q) AS BIGINT) AS a_${i}_$j") ++
        (1 to rank).map(i => s"CAST(sum(r.r * o.f${i}q) AS BIGINT) AS b_$i")
    var q = s"SELECT r.$solveKey AS $solveKey,\n      ${sums.mkString(",\n      ")}" +
      s"\n    FROM ratings r JOIN $other o ON o.$otherKey = r.$otherKey" +
      s"\n    GROUP BY r.$solveKey"
    graft.ext.Recommend.alsSolveLayersK(rank, graft.ext.Recommend.Lambda)
      .foreach { layer =>
        q = s"SELECT $solveKey, ${layer.mkString(",\n      ")}\n    FROM ($q)"
      }
    s"$out AS MATERIALIZED (\n  $q)"
  }

  /** General-rank IMPLICIT half-step CTE: the 1-row Gramian over the
    * other side, per-key confidence sums, the a = g + s pre-layer, then
    * Recommend.alsSolveLayersK's shared projection layers. */
  private def alsImplicitSolveCteK(out: String, other: String,
                                   solveKey: String, otherKey: String,
                                   rank: Int, alpha: Long): String = {
    val ij = for { i <- 1 to rank; j <- i to rank } yield (i, j)
    val gSel = ij.map { case (i, j) =>
      s"CAST(sum(f${i}q * f${j}q) AS BIGINT) AS g_${i}_$j" }.mkString(", ")
    val sSel = (ij.map { case (i, j) =>
      s"CAST(sum($alpha * r.r * o.f${i}q * o.f${j}q) AS BIGINT) AS s_${i}_$j" } ++
      (1 to rank).map(i =>
        s"CAST(sum((1 + ($alpha * r.r)) * o.f${i}q) AS BIGINT) AS b_$i")).mkString(",\n      ")
    var q = s"SELECT $solveKey, " +
      (ij.map { case (i, j) => s"(g_${i}_$j + s_${i}_$j) AS a_${i}_$j" } ++
        (1 to rank).map(i => s"b_$i")).mkString(", ") +
      s"\n    FROM (SELECT r.$solveKey AS $solveKey,\n      $sSel" +
      s"\n      FROM ratings r JOIN $other o ON o.$otherKey = r.$otherKey" +
      s"\n      GROUP BY r.$solveKey) CROSS JOIN g_$out"
    graft.ext.Recommend.alsSolveLayersK(rank, graft.ext.Recommend.Lambda)
      .foreach { layer =>
        q = s"SELECT $solveKey, ${layer.mkString(",\n      ")}\n    FROM ($q)"
      }
    s"g_$out AS (SELECT $gSel FROM $other),\n$out AS MATERIALIZED (\n  $q)"
  }

  /** SVD++ mirror pieces: the quantized update form (exact
    * parenthesization of Recommend.svdpp's `upd`) and one full gradient
    * iteration's CTE block (phase-1 z, scored edges, per-side aggregates,
    * applied updates). */
  private def svdppUpd(curq: String, s: String, sDiv: String,
                       gamma: String, reg: String): String =
    s"CAST(round((($curq / 65536.0::DOUBLE) + $gamma::DOUBLE * (($s / $sDiv::DOUBLE) - " +
      s"($reg::DOUBLE * (a.deg * ($curq / 65536.0::DOUBLE))))) * 65536.0::DOUBLE) AS BIGINT)"

  private def svdppIterCte(k: Int): String = {
    val (q2s, qs) = ("4294967296.0", "65536.0")
    val prevU = if (k == 1) "u0" else s"u${k - 1}"
    val prevI = if (k == 1) "i0" else s"i${k - 1}"
    s"""z$k AS MATERIALIZED (
       |  SELECT x.u, x.p1q, x.p2q,
       |    x.p1q + CAST(round(x.nsq * s.sy1) AS BIGINT) AS z1q,
       |    x.p2q + CAST(round(x.nsq * s.sy2) AS BIGINT) AS z2q,
       |    x.buq, x.nsq
       |  FROM $prevU x JOIN (
       |    SELECT r.u, CAST(sum(it.y1q) AS BIGINT) AS sy1,
       |           CAST(sum(it.y2q) AS BIGINT) AS sy2
       |    FROM ratings r JOIN $prevI it USING (i) GROUP BY r.u) s USING (u)),
       |e$k AS MATERIALIZED (
       |  SELECT *, CAST(round(errq * nsq) AS BIGINT) AS ewq FROM (
       |    SELECT r.u, r.i,
       |      CAST(round((r.r - least(greatest(
       |        m.mu + (uu.buq / $qs::DOUBLE) + (it.biq / $qs::DOUBLE)
       |          + ((it.q1q * uu.z1q + it.q2q * uu.z2q) / $q2s::DOUBLE),
       |        1.0::DOUBLE), 5.0::DOUBLE)) * $qs::DOUBLE) AS BIGINT) AS errq,
       |      uu.nsq, uu.z1q, uu.z2q, it.q1q, it.q2q, it.y1q, it.y2q
       |    FROM ratings r JOIN z$k uu USING (u) JOIN $prevI it USING (i) CROSS JOIN m)),
       |ua$k AS (
       |  SELECT u, count(*) AS deg, CAST(sum(errq) AS BIGINT) AS serr,
       |    CAST(sum(errq * q1q) AS BIGINT) AS sq1, CAST(sum(errq * q2q) AS BIGINT) AS sq2,
       |    CAST(sum(y1q) AS BIGINT) AS ty1, CAST(sum(y2q) AS BIGINT) AS ty2
       |  FROM e$k GROUP BY u),
       |u$k AS MATERIALIZED (
       |  SELECT x.u,
       |    ${svdppUpd("x.p1q", "a.sq1", q2s, "0.007", "0.015")} AS p1q,
       |    ${svdppUpd("x.p2q", "a.sq2", q2s, "0.007", "0.015")} AS p2q,
       |    CAST(round(((x.z1q / $qs::DOUBLE) + 0.007::DOUBLE * ((x.nsq * (a.sq1 / $q2s::DOUBLE)) - (0.015::DOUBLE * (a.ty1 / $qs::DOUBLE)))) * $qs::DOUBLE) AS BIGINT) AS z1q,
       |    CAST(round(((x.z2q / $qs::DOUBLE) + 0.007::DOUBLE * ((x.nsq * (a.sq2 / $q2s::DOUBLE)) - (0.015::DOUBLE * (a.ty2 / $qs::DOUBLE)))) * $qs::DOUBLE) AS BIGINT) AS z2q,
       |    ${svdppUpd("x.buq", "a.serr", qs, "0.007", "0.005")} AS buq,
       |    x.nsq
       |  FROM z$k x JOIN ua$k a USING (u)),
       |ia$k AS (
       |  SELECT i, count(*) AS deg, CAST(sum(errq) AS BIGINT) AS serr,
       |    CAST(sum(errq * z1q) AS BIGINT) AS sz1, CAST(sum(errq * z2q) AS BIGINT) AS sz2,
       |    CAST(sum(ewq * q1q) AS BIGINT) AS sw1, CAST(sum(ewq * q2q) AS BIGINT) AS sw2
       |  FROM e$k GROUP BY i),
       |i$k AS MATERIALIZED (
       |  SELECT x.i,
       |    ${svdppUpd("x.q1q", "a.sz1", q2s, "0.007", "0.015")} AS q1q,
       |    ${svdppUpd("x.q2q", "a.sz2", q2s, "0.007", "0.015")} AS q2q,
       |    ${svdppUpd("x.y1q", "a.sw1", q2s, "0.007", "0.015")} AS y1q,
       |    ${svdppUpd("x.y2q", "a.sw2", q2s, "0.007", "0.015")} AS y2q,
       |    ${svdppUpd("x.biq", "a.serr", qs, "0.007", "0.005")} AS biq
       |  FROM $prevI x JOIN ia$k a USING (i))""".stripMargin
  }

  /** The s15 Naive Bayes oracle chain (train -> likelihoods -> per-doc
    * per-label micro-nat scores -> ranked), shared by the s15 final
    * select and the s17 metrics suffix. */
  private val nbChainCte: String =
    """train AS MATERIALIZED (SELECT * FROM documents WHERE doc_id < 250),
      |ttoks AS MATERIALIZED (
      |  SELECT lang AS label, unnest(string_split(text, ' ')) AS tok FROM train),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM ttoks),
      |ntrain AS (SELECT count(*) AS n FROM train),
      |cls AS MATERIALIZED (
      |  SELECT dl.label, tk.n_toks,
      |    CAST(round(ln(CAST(dl.n_docs AS DOUBLE) / CAST(ntrain.n AS DOUBLE)) * 1e6) AS BIGINT) AS priorq,
      |    CAST(round(ln(CAST(1 AS DOUBLE) / CAST(tk.n_toks + vocab.v AS DOUBLE)) * 1e6) AS BIGINT) AS oovq
      |  FROM (SELECT lang AS label, count(*) AS n_docs FROM train GROUP BY 1) dl
      |  JOIN (SELECT label, CAST(count(*) AS BIGINT) AS n_toks FROM ttoks GROUP BY 1) tk USING (label)
      |  CROSS JOIN vocab CROSS JOIN ntrain),
      |lik AS MATERIALIZED (
      |  SELECT c.label, c.tok,
      |    CAST(round(ln(CAST(c.c + 1 AS DOUBLE) / CAST(cls.n_toks + vocab.v AS DOUBLE)) * 1e6) AS BIGINT) AS lpq
      |  FROM (SELECT label, tok, CAST(count(*) AS BIGINT) AS c FROM ttoks GROUP BY 1, 2) c
      |  JOIN cls USING (label) CROSS JOIN vocab),
      |dtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |ts AS MATERIALIZED (
      |  SELECT dt.doc_id, cl.label, CAST(sum(COALESCE(lik.lpq, cl.oovq)) AS BIGINT) AS tok_q
      |  FROM dtoks dt CROSS JOIN cls cl
      |  LEFT JOIN lik ON lik.label = cl.label AND lik.tok = dt.tok
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT d.doc_id, d.lang AS actual, cl.label,
      |    CAST(cl.priorq + COALESCE(ts.tok_q, 0) AS BIGINT) AS score_q
      |  FROM documents d CROSS JOIN cls cl
      |  LEFT JOIN ts ON ts.doc_id = d.doc_id AND ts.label = cl.label),
      |r AS MATERIALIZED (SELECT doc_id, actual, label, score_q,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, label) AS rn
      |  FROM sc)""".stripMargin

  /** The s19/s20/s21 shared feature base as a CTE (mirror of
    * [[ordersBase]]). */
  private val ordersBaseCte =
    """base AS MATERIALIZED (
      |  SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)""".stripMargin

  /** Mirror of [[cvFeats]] + Learn.gridRidgeCv for a lambda grid and an
    * optional TVS fold: per-fold 9-sum CTE, train = total − fold, the
    * shared ridge Cramer strings per lambda, one scoring join, micro
    * RMSE averaged by integer //, min-by-(metric, lambda) selection,
    * winner refit on the total sums. */
  private def gridRidgeCvSql(lambdas: Seq[Double], tvsFold: Option[Int]): String = {
    val nine = Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
    val betaUnion = lambdas.map { lam =>
      val bs = graft.ext.Learn.ridgeBetaExprs(lam)
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n      ")
      s"""  SELECT fold, CAST(${math.round(lam * 1e6)} AS BIGINT) AS lambda_micro,
         |      $bs
         |  FROM train""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val refitUnion = lambdas.map { lam =>
      val bs = graft.ext.Learn.ridgeBetaExprs(lam)
        .map { case (name, e) => s"CAST(round($e * 1000000.0) AS BIGINT) AS ${name}_micro" }
        .mkString(",\n      ")
      s"""  SELECT CAST(${math.round(lam * 1e6)} AS BIGINT) AS lambda_micro,
         |      $bs
         |  FROM tot""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val scoreFilter = tvsFold.map(f => s"WHERE fold = $f").getOrElse("")
    val divisor = if (tvsFold.isDefined) 1 else 3
    s"""WITH $ordersBaseCte,
       |feats AS MATERIALIZED (
       |  SELECT CAST(b.o_orderkey % 3 AS BIGINT) AS fold, b.x1, b.qty AS x2,
       |         CAST(round(o.o_totalprice) AS BIGINT) AS y
       |  FROM base b JOIN orders o USING (o_orderkey)),
       |fsums AS MATERIALIZED (
       |  SELECT fold, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
       |    CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
       |    CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y
       |  FROM feats GROUP BY 1),
       |tot AS (SELECT ${nine.map(c => s"CAST(sum($c) AS BIGINT) AS $c").mkString(", ")} FROM fsums),
       |train AS (SELECT fold, ${nine.map(c => s"t.$c - f.$c AS $c").mkString(", ")}
       |  FROM fsums f CROSS JOIN tot t),
       |betas AS MATERIALIZED (
       |$betaUnion),
       |perfold AS (
       |  SELECT fold, lambda_micro,
       |    CAST(round(sqrt(CAST(sum(r * r) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS rmse_micro
       |  FROM (SELECT f.fold, b.lambda_micro, f.y - ${graft.ext.Learn.olsPredExpr} AS r
       |        FROM feats f JOIN (SELECT * FROM betas $scoreFilter) b USING (fold))
       |  GROUP BY 1, 2),
       |avg AS (SELECT lambda_micro,
       |    CAST(CAST(sum(rmse_micro) AS BIGINT) // $divisor AS BIGINT) AS avg_rmse_micro
       |  FROM perfold GROUP BY 1),
       |best AS (SELECT lambda_micro FROM avg
       |  ORDER BY avg_rmse_micro ASC, lambda_micro ASC LIMIT 1),
       |refits AS (
       |$refitUnion)
       |SELECT a.lambda_micro, a.avg_rmse_micro,
       |  CAST(CASE WHEN a.lambda_micro = best.lambda_micro THEN 1 ELSE 0 END AS BIGINT) AS chosen,
       |  r.b0_micro, r.b1_micro, r.b2_micro
       |FROM avg a CROSS JOIN best
       |JOIN refits r ON r.lambda_micro = best.lambda_micro
       |ORDER BY a.lambda_micro""".stripMargin
  }

  /** Mirror of [[lrFeatures]]. */
  private def lrFeatsCte(xDiv: Int, yScale: Long) =
    s"""feats AS MATERIALIZED (
       |  SELECT o_orderkey, x1, CAST(qty // $xDiv AS BIGINT) AS x2,
       |         CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN $yScale ELSE 0 END AS BIGINT) AS yq
       |  FROM base)""".stripMargin

  /** The DuckDB side of Learn.mlpFitPredictDh at (d, h), lr 1.0 and two
    * iterations over the `feats` CTE (o_orderkey, x1..xd, yq): each step
    * is the SQL the kernel mirrors — forward with the generated layer
    * strings, quantized deltas, the exact BIGINT gradient sums, the
    * update strings — then the o_orderkey <= 2000 cohort is scored. */
  private def mlpOracleSql(featsCte: String, d: Int, h: Int): String = {
    val hs = (1 to h).map(j => s"h$j").mkString(", ")
    val hExprs = (1 to h).map(j => s"${Learn.mlpHiddenExprDh(j, d)} AS h$j").mkString(", ")
    val xs = (1 to d).map(i => s"x$i").mkString(", ")
    val initSel = Learn.mlpInitValsDh(d, h).zip(Learn.mlpWeightColsDh(d, h))
      .map { case (v, c) => s"CAST($v AS BIGINT) AS $c" }.mkString(", ")
    val gsums = (s"CAST(sum(dlt) AS BIGINT) AS gv0" +:
      ((1 to h).map(j => s"CAST(sum(dlt * h$j) AS BIGINT) AS gv$j") ++
        (1 to h).flatMap(j => s"CAST(sum(dh$j) AS BIGINT) AS g${j}0" +:
          (1 to d).map(i => s"CAST(sum(dh$j * x$i) AS BIGINT) AS g$j$i")))).mkString(",\n    ")
    val upds = ((1 to h).flatMap(j => (0 to d).map(i =>
      s"${Learn.lrUpdExpr(s"w$j${i}q", s"g$j$i", 1.0)} AS w$j${i}q")) ++
      (s"${Learn.lrUpdExpr("v0q", "gv0", 1.0)} AS v0q" +:
        (1 to h).map(j => s"${Learn.mlpUpd12Expr(s"v${j}q", s"gv$j", 1.0)} AS v${j}q")))
      .mkString(",\n    ")
    val iters = (1 to 2).map { k =>
      s"""mfwd$k AS MATERIALIZED (
         |  SELECT $xs, $hs, dlt,
         |    ${(1 to h).map(j => s"${Learn.mlpHidDeltaExpr(s"v${j}q", s"h$j")} AS dh$j").mkString(",\n    ")}
         |  FROM (SELECT $xs, $hs, ${(1 to h).map(j => s"v${j}q").mkString(", ")},
         |          yq - ${Learn.mlpOutExprH(h)} AS dlt
         |        FROM (SELECT f.*, w.*, $hExprs
         |              FROM feats f CROSS JOIN mw${k - 1} w))),
         |mg$k AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    $gsums
         |  FROM mfwd$k),
         |mw$k AS MATERIALIZED (SELECT
         |    $upds
         |  FROM mw${k - 1} CROSS JOIN mg$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ordersBaseCte,
       |$featsCte,
       |mw0 AS (SELECT $initSel),
       |$iters
       |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label, $hs,
       |  o_micro,
       |  CAST(CASE WHEN o_micro >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM (SELECT o_orderkey, yq, $hs, ${Learn.mlpOutExprH(h)} AS o_micro
       |      FROM (SELECT f.*, w.*, $hExprs
       |            FROM (SELECT * FROM feats WHERE o_orderkey <= 2000) f
       |            CROSS JOIN mw2 w))
       |ORDER BY o_orderkey""".stripMargin
  }

  /** One unrolled logistic-regression gradient iteration: the sigmoid
    * micro-probability and the quantized update REUSE graft.ext.Learn's
    * formula strings verbatim — the mirror IS the plan. */
  /** [[lrIterCte]] with a per-model name prefix — the OVR oracle
    * instantiates one chain per class over its own label CTE f`p`. */
  private def lrIterCteP(p: String, k: Int, lr: Double): String =
    s"""${p}g$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(yq - pq) AS BIGINT) AS g0,
       |    CAST(sum((yq - pq) * x1) AS BIGINT) AS g1,
       |    CAST(sum((yq - pq) * x2) AS BIGINT) AS g2
       |  FROM (SELECT yq, x1, x2, ${Learn.lrProbExpr} AS pq
       |        FROM f$p CROSS JOIN ${p}w${k - 1})),
       |${p}w$k AS MATERIALIZED (
       |  SELECT ${Learn.lrUpdExpr("w0q", "g0", lr)} AS w0q,
       |    ${Learn.lrUpdExpr("w1q", "g1", lr)} AS w1q,
       |    ${Learn.lrUpdExpr("w2q", "g2", lr)} AS w2q
       |  FROM ${p}g$k CROSS JOIN ${p}w${k - 1})""".stripMargin

  /** One unrolled L-BFGS(m=1) iteration: the s19 gradient CTE, then the
    * staged two-loop as nested `SELECT *, ...` layers — every stage and
    * the guarded update REUSE graft.ext.Learn.lbfgsStages /
    * lbfgsUpdateExprs verbatim, so the mirror IS the plan. */
  private def lbfgsIterCte(k: Int, step: Double, lr0: Double): String = {
    val inner = s"SELECT * FROM lbg$k CROSS JOIN lb${k - 1}"
    val nested = Learn.lbfgsStages.foldLeft(inner) { (acc, st) =>
      s"SELECT *, ${st.map { case (c, e) => s"$e AS $c" }.mkString(", ")} FROM ($acc)"
    }
    val upd = Learn.lbfgsUpdateExprs(step, lr0)
      .map { case (c, e) => s"$e AS $c" }.mkString(",\n    ")
    s"""lbg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(yq - pq) AS BIGINT) AS gs0,
       |    CAST(sum((yq - pq) * x1) AS BIGINT) AS gs1,
       |    CAST(sum((yq - pq) * x2) AS BIGINT) AS gs2
       |  FROM (SELECT yq, x1, x2, ${Learn.lrProbExpr} AS pq
       |        FROM feats CROSS JOIN lb${k - 1})),
       |lb$k AS MATERIALIZED (
       |  SELECT $upd
       |  FROM ($nested))""".stripMargin
  }

  /** One unrolled MINIBATCH gradient iteration: the s19 gradient CTE
    * over iteration k's rotating hash-residue quarter, n = the BATCH
    * size (the reference's :201 miniBatchSize divisor). */
  private def sgdIterCte(k: Int, lr: Double, batches: Int): String = {
    val h = "CAST('0x' || substr(md5('sgd:' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)"
    s"""sg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(yq - pq) AS BIGINT) AS g0,
       |    CAST(sum((yq - pq) * x1) AS BIGINT) AS g1,
       |    CAST(sum((yq - pq) * x2) AS BIGINT) AS g2
       |  FROM (SELECT yq, x1, x2, ${Learn.lrProbExpr} AS pq
       |        FROM (SELECT * FROM feats WHERE ($h + ${k - 1}) % $batches = 0)
       |        CROSS JOIN sw${k - 1})),
       |sw$k AS MATERIALIZED (
       |  SELECT ${Learn.lrUpdExpr("w0q", "g0", lr)} AS w0q,
       |    ${Learn.lrUpdExpr("w1q", "g1", lr)} AS w1q,
       |    ${Learn.lrUpdExpr("w2q", "g2", lr)} AS w2q
       |  FROM sg$k CROSS JOIN sw${k - 1})""".stripMargin
  }

  private[queries] def lrIterCte(k: Int, lr: Double): String =
    s"""g$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(yq - pq) AS BIGINT) AS g0,
       |    CAST(sum((yq - pq) * x1) AS BIGINT) AS g1,
       |    CAST(sum((yq - pq) * x2) AS BIGINT) AS g2
       |  FROM (SELECT yq, x1, x2, ${Learn.lrProbExpr} AS pq
       |        FROM feats CROSS JOIN w${k - 1})),
       |w$k AS MATERIALIZED (
       |  SELECT ${Learn.lrUpdExpr("w0q", "g0", lr)} AS w0q,
       |    ${Learn.lrUpdExpr("w1q", "g1", lr)} AS w1q,
       |    ${Learn.lrUpdExpr("w2q", "g2", lr)} AS w2q
       |  FROM g$k CROSS JOIN w${k - 1})""".stripMargin

  /** [[lrIterCte]] with the feature axis generalized (reads feats3,
    * one gradient sum per feature). */
  private def lrIterCteK(k: Int, d: Int, lr: Double): String = {
    val gsums = (1 to d)
      .map(i => s"    CAST(sum((yq - pq) * x$i) AS BIGINT) AS g$i").mkString(",\n|")
    val xs = (1 to d).map(i => s"x$i").mkString(", ")
    val upds = (0 to d)
      .map(i => s"    ${Learn.lrUpdExpr(s"w${i}q", s"g$i", lr)} AS w${i}q")
      .mkString(",\n|")
    s"""g$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(yq - pq) AS BIGINT) AS g0,
       |$gsums
       |  FROM (SELECT yq, $xs, ${Learn.lrProbExprK(d)} AS pq
       |        FROM feats3 CROSS JOIN w${k - 1})),
       |w$k AS MATERIALIZED (
       |  SELECT
       |$upds
       |  FROM g$k CROSS JOIN w${k - 1})""".stripMargin
  }

  /** One unrolled decision-tree level: histogram -> prefix-sum candidate
    * table -> exact milli-unit Gini-complement argmax -> node routing
    * (graft.ext.Learn.decisionTree2's per-level shape verbatim). `p`
    * prefixes every CTE name so the random-forest oracle can instantiate
    * one chain per tree. */
  private def dtLevelCte(p: String, k: Int, score: String =
      "CAST((((lp * lp) + ((nl - lp) * (nl - lp))) * 1000) // nl" +
        " + ((((tp - lp) * (tp - lp)) + (((tn - nl) - (tp - lp)) * ((tn - nl) - (tp - lp)))) * 1000) // (tn - nl) AS BIGINT)",
      extraFilter: String = "", nFeats: Int = 2): String = {
    val prev = s"${p}r${k - 1}"
    val lfLegs = (2 to nFeats)
      .map(i => s"  UNION ALL SELECT node, y, $i::BIGINT, x$i FROM $prev")
      .mkString("\n|")
    val xCols = (1 to nFeats).map(i => s"r.x$i").mkString(", ")
    val pick = "CASE " + (1 until nFeats).map(i => s"WHEN b.feat = $i THEN r.x$i")
      .mkString(" ") + s" ELSE r.x$nFeats END"
    s"""${p}lf$k AS (SELECT node, y, 1::BIGINT AS feat, x1 AS val FROM $prev
       |$lfLegs),
       |${p}h$k AS (SELECT node, feat, val, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS np
       |  FROM ${p}lf$k GROUP BY 1, 2, 3),
       |${p}c$k AS (SELECT node, feat, val,
       |    CAST(sum(n) OVER w AS BIGINT) AS nl, CAST(sum(np) OVER w AS BIGINT) AS lp,
       |    CAST(sum(n) OVER wn AS BIGINT) AS tn, CAST(sum(np) OVER wn AS BIGINT) AS tp
       |  FROM ${p}h$k
       |  WINDOW w AS (PARTITION BY node, feat ORDER BY val ROWS UNBOUNDED PRECEDING),
       |         wn AS (PARTITION BY node, feat)),
       |${p}s$k AS (SELECT node, feat, val, nl, tn, tp,
       |    $score AS score
       |  FROM ${p}c$k WHERE nl > 0 AND tn - nl > 0),
       |${p}b$k AS MATERIALIZED (SELECT node, feat, val AS thr FROM (
       |    SELECT node, feat, val,
       |      row_number() OVER (PARTITION BY node ORDER BY score DESC, feat, val) AS rn
       |    FROM ${p}s$k${if (extraFilter.isEmpty) "" else s" WHERE $extraFilter"}) WHERE rn = 1),
       |${p}r$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, $xCols, r.y,
       |    CASE WHEN b.node IS NULL THEN r.node
       |         WHEN ($pick) <= b.thr THEN r.node * 2
       |         ELSE r.node * 2 + 1 END AS node
       |  FROM $prev r LEFT JOIN ${p}b$k b USING (node))""".stripMargin
  }

  /** Cohort routing through a fitted level's split table (the Learn
    * .decisionTreeRoute step, per level). */
  private def dtRouteCte(p: String, k: Int, in: String): String =
    s"""${p}q$k AS (SELECT q.o_orderkey, q.x1, q.x2, q.y,
       |    CASE WHEN b.node IS NULL THEN q.node
       |         WHEN (CASE WHEN b.feat = 1 THEN q.x1 ELSE q.x2 END) <= b.thr THEN q.node * 2
       |         ELSE q.node * 2 + 1 END AS node
       |  FROM $in q LEFT JOIN ${p}b$k b USING (node))""".stripMargin

  /** One unrolled tree-boosting round: fit a full two-level variance
    * tree on the carried residuals (the s66 per-level chain), derive
    * its mean leaves, subtract each row's leaf constant. gt`k` carries
    * (o_orderkey, x1, x2, rq). */
  private def gbtTreeRoundCte(k: Int): String = {
    val p = s"g$k"
    val score = Learn.varianceScoreExpr("//")
    s"""${p}r0 AS MATERIALIZED (
       |  SELECT o_orderkey, x1, x2, rq AS y, 1::BIGINT AS node FROM gt${k - 1}),
       |${dtLevelCte(p, 1, score)},
       |${dtLevelCte(p, 2, score)},
       |${p}lp AS (SELECT node,
       |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS pred
       |  FROM ${p}r2 GROUP BY 1),
       |gt$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.y - lp.pred AS rq
       |  FROM ${p}r2 r JOIN ${p}lp lp USING (node))""".stripMargin
  }

  /** One REGRESSION forest member: the rfTreeCtes shape with the
    * variance score substituted and mean-target leaf predictions. */
  private def rfRegTreeCtes(t: Int): String = {
    val p = s"v$t"
    val score = Learn.varianceScoreExpr("//")
    s"""${p}r0 AS MATERIALIZED (
       |  SELECT o_orderkey, x1, x2, ym AS y, 1::BIGINT AS node
       |  FROM gfeats WHERE o_orderkey % 3 <> $t),
       |${dtLevelCte(p, 1, score)},
       |${dtLevelCte(p, 2, score)},
       |${p}lp AS (SELECT node,
       |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS pred
       |  FROM ${p}r2 GROUP BY 1),
       |${dtRouteCte(p, 1, "coh")},
       |${dtRouteCte(p, 2, s"${p}q1")},
       |${p}p AS MATERIALIZED (
       |  SELECT q.o_orderkey, lp.pred FROM ${p}q2 q JOIN ${p}lp lp USING (node))""".stripMargin
  }

  /** One forest member: train the two-level tree on the id % 3 != t
    * subset, derive its leaf predictions, route the cohort through it. */
  private def rfTreeCtes(t: Int): String = {
    val p = s"t$t"
    s"""${p}r0 AS MATERIALIZED (
       |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node
       |  FROM feats WHERE o_orderkey % 3 <> $t),
       |${dtLevelCte(p, 1)},
       |${dtLevelCte(p, 2)},
       |${p}lp AS (SELECT node,
       |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
       |  FROM ${p}r2 GROUP BY 1),
       |${dtRouteCte(p, 1, "coh")},
       |${dtRouteCte(p, 2, s"${p}q1")},
       |${p}p AS MATERIALIZED (
       |  SELECT q.o_orderkey, lp.pred FROM ${p}q2 q JOIN ${p}lp lp USING (node))""".stripMargin
  }

  /** One FEATURE-RESTRICTED forest member (the s83 chain): the
    * rfTreeCtes shape with tree t's excluded column zeroed in the
    * training base — its constant histogram keeps no valid split —
    * while the cohort routes with RAW features. */
  private def rfFsTreeCtes(t: Int): String = {
    val p = s"u$t"
    val (x1e, x2e) = if (t % 2 == 0) ("x1", "0::BIGINT") else ("0::BIGINT", "x2")
    s"""${p}r0 AS MATERIALIZED (
       |  SELECT o_orderkey, $x1e AS x1, $x2e AS x2, yq AS y, 1::BIGINT AS node
       |  FROM feats WHERE o_orderkey % 3 <> $t),
       |${dtLevelCte(p, 1)},
       |${dtLevelCte(p, 2)},
       |${p}lp AS (SELECT node,
       |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
       |  FROM ${p}r2 GROUP BY 1),
       |${dtRouteCte(p, 1, "coh")},
       |${dtRouteCte(p, 2, s"${p}q1")},
       |${p}p AS MATERIALIZED (
       |  SELECT q.o_orderkey, lp.pred FROM ${p}q2 q JOIN ${p}lp lp USING (node))""".stripMargin
  }

  /** One boosted-stump round: residual histogram -> prefix-sum candidates
    * -> abs-floor-div variance-reduction argmax (graft.ext.Learn.gbtFit2's
    * shape; `//` on the ABSOLUTE sums matches Spark's toward-zero DIV) ->
    * residual update. */
  private def gbtRoundCte(k: Int, lr: Double = 1.0): String = {
    val prev = s"gr${k - 1}"
    s"""gb$k AS MATERIALIZED (
       |  SELECT feat, val AS thr,
       |    ${Learn.leafExpr(lr, "sl", "nl")} AS leftq,
       |    ${Learn.leafExpr(lr, "(st - sl)", "(tn - nl)")} AS rightq
       |  FROM (
       |    SELECT feat, val, nl, sl, tn, st,
       |      row_number() OVER (ORDER BY
       |        (abs(sl) // nl) * abs(sl) + (abs(st - sl) // (tn - nl)) * abs(st - sl) DESC,
       |        feat, val) AS rn
       |    FROM (
       |      SELECT feat, val,
       |        CAST(sum(n) OVER w AS BIGINT) AS nl, CAST(sum(sr) OVER w AS BIGINT) AS sl,
       |        CAST(sum(n) OVER wn AS BIGINT) AS tn, CAST(sum(sr) OVER wn AS BIGINT) AS st
       |      FROM (SELECT feat, val, CAST(count(*) AS BIGINT) AS n, CAST(sum(rq) AS BIGINT) AS sr
       |            FROM (SELECT rq, 1::BIGINT AS feat, x1 AS val FROM $prev
       |                  UNION ALL SELECT rq, 2::BIGINT, x2 FROM $prev)
       |            GROUP BY 1, 2)
       |      WINDOW w AS (PARTITION BY feat ORDER BY val ROWS UNBOUNDED PRECEDING),
       |             wn AS (PARTITION BY feat))
       |    WHERE nl > 0 AND tn - nl > 0)
       |  WHERE rn = 1),
       |gr$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.ym,
       |    r.rq - (CASE WHEN (CASE WHEN b.feat = 1 THEN r.x1 ELSE r.x2 END) <= b.thr
       |            THEN b.leftq ELSE b.rightq END) AS rq
       |  FROM $prev r CROSS JOIN gb$k b)""".stripMargin
  }

  /** One unrolled VALIDATED boosting round (the s76 chain): the s26
    * stump argmax over the TRAIN residuals tr{k−1}, then the residual
    * update applied to BOTH the train frame and the held-out valid
    * frame tv{k−1}, and the round's exact integer mean squared
    * validation residual ve{k}. */
  private def gbvRoundCte(k: Int): String = {
    val prev = s"tr${k - 1}"
    val prevV = s"tv${k - 1}"
    val upd = s"""(CASE WHEN (CASE WHEN b.feat = 1 THEN r.x1 ELSE r.x2 END) <= b.thr
       |            THEN b.leftq ELSE b.rightq END)""".stripMargin
    s"""tb$k AS MATERIALIZED (
       |  SELECT feat, val AS thr,
       |    CAST(round(CAST(sl AS DOUBLE) / nl) AS BIGINT) AS leftq,
       |    CAST(round(CAST(st - sl AS DOUBLE) / (tn - nl)) AS BIGINT) AS rightq
       |  FROM (
       |    SELECT feat, val, nl, sl, tn, st,
       |      row_number() OVER (ORDER BY
       |        (abs(sl) // nl) * abs(sl) + (abs(st - sl) // (tn - nl)) * abs(st - sl) DESC,
       |        feat, val) AS rn
       |    FROM (
       |      SELECT feat, val,
       |        CAST(sum(n) OVER w AS BIGINT) AS nl, CAST(sum(sr) OVER w AS BIGINT) AS sl,
       |        CAST(sum(n) OVER wn AS BIGINT) AS tn, CAST(sum(sr) OVER wn AS BIGINT) AS st
       |      FROM (SELECT feat, val, CAST(count(*) AS BIGINT) AS n, CAST(sum(rq) AS BIGINT) AS sr
       |            FROM (SELECT rq, 1::BIGINT AS feat, x1 AS val FROM $prev
       |                  UNION ALL SELECT rq, 2::BIGINT, x2 FROM $prev)
       |            GROUP BY 1, 2)
       |      WINDOW w AS (PARTITION BY feat ORDER BY val ROWS UNBOUNDED PRECEDING),
       |             wn AS (PARTITION BY feat))
       |    WHERE nl > 0 AND tn - nl > 0)
       |  WHERE rn = 1),
       |tr$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.ym, r.rq - $upd AS rq
       |  FROM $prev r CROSS JOIN tb$k b),
       |tv$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.ym, r.rq - $upd AS rq
       |  FROM $prevV r CROSS JOIN tb$k b),
       |ve$k AS (SELECT CAST(CAST(sum(rq * rq) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS verr
       |  FROM tv$k)""".stripMargin
  }

  /** One unrolled absolute-error boosting round: sign residuals from
    * the carried margin via the shared gradient string, the s26 split
    * argmax, the lr-scaled leaf means, the margin update. */
  private def gbaRoundCte(k: Int): String = {
    val prev = s"ga${k - 1}"
    s"""gar$k AS MATERIALIZED (
       |  SELECT o_orderkey, x1, x2, ym, fm, ${Learn.gbtAbsResidExpr} AS rq
       |  FROM $prev),
       |gab$k AS MATERIALIZED (
       |  SELECT feat, val AS thr,
       |    CAST(round(CAST(0.5 AS DOUBLE) * (CAST(sl AS DOUBLE) / nl)) AS BIGINT) AS leftq,
       |    CAST(round(CAST(0.5 AS DOUBLE) * (CAST(st - sl AS DOUBLE) / (tn - nl))) AS BIGINT) AS rightq
       |  FROM (
       |    SELECT feat, val, nl, sl, tn, st,
       |      row_number() OVER (ORDER BY
       |        (abs(sl) // nl) * abs(sl) + (abs(st - sl) // (tn - nl)) * abs(st - sl) DESC,
       |        feat, val) AS rn
       |    FROM (
       |      SELECT feat, val,
       |        CAST(sum(n) OVER w AS BIGINT) AS nl, CAST(sum(sr) OVER w AS BIGINT) AS sl,
       |        CAST(sum(n) OVER wn AS BIGINT) AS tn, CAST(sum(sr) OVER wn AS BIGINT) AS st
       |      FROM (SELECT feat, val, CAST(count(*) AS BIGINT) AS n, CAST(sum(rq) AS BIGINT) AS sr
       |            FROM (SELECT rq, 1::BIGINT AS feat, x1 AS val FROM gar$k
       |                  UNION ALL SELECT rq, 2::BIGINT, x2 FROM gar$k)
       |            GROUP BY 1, 2)
       |      WINDOW w AS (PARTITION BY feat ORDER BY val ROWS UNBOUNDED PRECEDING),
       |             wn AS (PARTITION BY feat))
       |    WHERE nl > 0 AND tn - nl > 0)
       |  WHERE rn = 1),
       |ga$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.ym,
       |    r.fm + (CASE WHEN (CASE WHEN b.feat = 1 THEN r.x1 ELSE r.x2 END) <= b.thr
       |            THEN b.leftq ELSE b.rightq END) AS fm
       |  FROM gar$k r CROSS JOIN gab$k b)""".stripMargin
  }

  /** One unrolled log-loss boosting round: residuals from the carried
    * margin via the shared gradient string, the s26 split argmax, the
    * lr-scaled leaf means, the margin update. */
  private def gblRoundCte(k: Int): String = {
    val prev = s"gl${k - 1}"
    s"""glr$k AS MATERIALIZED (
       |  SELECT o_orderkey, x1, x2, ys, fm, ${Learn.gbtLogLossResidExpr} AS rq
       |  FROM $prev),
       |glb$k AS MATERIALIZED (
       |  SELECT feat, val AS thr,
       |    CAST(round(CAST(0.5 AS DOUBLE) * (CAST(sl AS DOUBLE) / nl)) AS BIGINT) AS leftq,
       |    CAST(round(CAST(0.5 AS DOUBLE) * (CAST(st - sl AS DOUBLE) / (tn - nl))) AS BIGINT) AS rightq
       |  FROM (
       |    SELECT feat, val, nl, sl, tn, st,
       |      row_number() OVER (ORDER BY
       |        (abs(sl) // nl) * abs(sl) + (abs(st - sl) // (tn - nl)) * abs(st - sl) DESC,
       |        feat, val) AS rn
       |    FROM (
       |      SELECT feat, val,
       |        CAST(sum(n) OVER w AS BIGINT) AS nl, CAST(sum(sr) OVER w AS BIGINT) AS sl,
       |        CAST(sum(n) OVER wn AS BIGINT) AS tn, CAST(sum(sr) OVER wn AS BIGINT) AS st
       |      FROM (SELECT feat, val, CAST(count(*) AS BIGINT) AS n, CAST(sum(rq) AS BIGINT) AS sr
       |            FROM (SELECT rq, 1::BIGINT AS feat, x1 AS val FROM glr$k
       |                  UNION ALL SELECT rq, 2::BIGINT, x2 FROM glr$k)
       |            GROUP BY 1, 2)
       |      WINDOW w AS (PARTITION BY feat ORDER BY val ROWS UNBOUNDED PRECEDING),
       |             wn AS (PARTITION BY feat))
       |    WHERE nl > 0 AND tn - nl > 0)
       |  WHERE rn = 1),
       |gl$k AS MATERIALIZED (
       |  SELECT r.o_orderkey, r.x1, r.x2, r.ys,
       |    r.fm + (CASE WHEN (CASE WHEN b.feat = 1 THEN r.x1 ELSE r.x2 END) <= b.thr
       |            THEN b.leftq ELSE b.rightq END) AS fm
       |  FROM glr$k r CROSS JOIN glb$k b)""".stripMargin
  }

  /** One stump's contribution to the final prediction. */
  private def gbtTerm(b: String): String =
    s"(CASE WHEN (CASE WHEN $b.feat = 1 THEN c.x1 ELSE c.x2 END) <= $b.thr THEN $b.leftq ELSE $b.rightq END)"

  /** One unrolled SVM hinge step (Learn.svmGradTerm/svmUpdExpr shared
    * verbatim — the integer margin test and the one double update). */
  private def svmL2IterCte(k: Int, lr: Double, lambda: Double): String =
    s"""zg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(${Learn.svmGradTerm("")}) AS BIGINT) AS g0,
       |    CAST(sum(${Learn.svmGradTerm(" * x1")}) AS BIGINT) AS g1,
       |    CAST(sum(${Learn.svmGradTerm(" * x2")}) AS BIGINT) AS g2
       |  FROM feats CROSS JOIN zw${k - 1}),
       |zw$k AS MATERIALIZED (
       |  SELECT ${Learn.svmUpdL2Expr("w0q", "g0", lr, lambda)} AS w0q,
       |    ${Learn.svmUpdL2Expr("w1q", "g1", lr, lambda)} AS w1q,
       |    ${Learn.svmUpdL2Expr("w2q", "g2", lr, lambda)} AS w2q
       |  FROM zg$k CROSS JOIN zw${k - 1})""".stripMargin

  private def svmIterCte(k: Int, lr: Double): String =
    s"""vg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(${Learn.svmGradTerm("")}) AS BIGINT) AS g0,
       |    CAST(sum(${Learn.svmGradTerm(" * x1")}) AS BIGINT) AS g1,
       |    CAST(sum(${Learn.svmGradTerm(" * x2")}) AS BIGINT) AS g2
       |  FROM feats CROSS JOIN vw${k - 1}),
       |vw$k AS MATERIALIZED (
       |  SELECT ${Learn.svmUpdExpr("w0q", "g0", lr)} AS w0q,
       |    ${Learn.svmUpdExpr("w1q", "g1", lr)} AS w1q,
       |    ${Learn.svmUpdExpr("w2q", "g2", lr)} AS w2q
       |  FROM vg$k CROSS JOIN vw${k - 1})""".stripMargin

  /** [[svmIterCte]] with the feature axis generalized. */
  private def svmIterCteK(k: Int, d: Int, lr: Double): String = {
    val gsums = (1 to d)
      .map(i => s"    CAST(sum(${Learn.svmGradTermK(d, s" * x$i")}) AS BIGINT) AS g$i")
      .mkString(",\n|")
    val upds = (0 to d)
      .map(i => s"    ${Learn.svmUpdExpr(s"w${i}q", s"g$i", lr)} AS w${i}q")
      .mkString(",\n|")
    s"""vg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(${Learn.svmGradTermK(d, "")}) AS BIGINT) AS g0,
       |$gsums
       |  FROM feats CROSS JOIN vw${k - 1}),
       |vw$k AS MATERIALIZED (
       |  SELECT
       |$upds
       |  FROM vg$k CROSS JOIN vw${k - 1})""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // The s27 oracle with the feature axis at d = 3.
    "s106_svm_k" -> {
      val iters = (1 to 8).map(svmIterCteK(_, 3, 0.5)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST((qty // 10) - 10 AS BIGINT) AS x2,
         |         CAST((o_orderkey % 13) - 6 AS BIGINT) AS x3,
         |         CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT) AS ys
         |  FROM base),
         |vw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q,
         |  0::BIGINT AS w3q),
         |$iters
         |SELECT o_orderkey, CAST(ys AS BIGINT) AS label,
         |  CAST(${Learn.svmMarginK(3)} AS BIGINT) AS score_q,
         |  CAST(CASE WHEN ${Learn.svmMarginK(3)} >= 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN vw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // The s27 chain under the L2-shrunk update strings.
    "s86_svm_l2" -> {
      val iters = (1 to 8).map(svmL2IterCte(_, 0.5, 0.01)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST((qty // 10) - 10 AS BIGINT) AS x2,
         |         CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT) AS ys
         |  FROM base),
         |zw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, CAST(ys AS BIGINT) AS label,
         |  CAST((w0q + (w1q * x1)) + (w2q * x2) AS BIGINT) AS score_q,
         |  CAST(CASE WHEN (w0q + (w1q * x1)) + (w2q * x2) >= 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN zw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // 8 unrolled hinge subgradient steps sharing Learn's margin-test and
    // update formula strings, then cohort scoring under vw8.
    "s27_linear_svm" -> {
      val iters = (1 to 8).map(svmIterCte(_, 0.5)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST((qty // 10) - 10 AS BIGINT) AS x2,
         |         CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE -1 END AS BIGINT) AS ys
         |  FROM base),
         |vw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, CAST(ys AS BIGINT) AS label,
         |  CAST((w0q + (w1q * x1)) + (w2q * x2) AS BIGINT) AS score_q,
         |  CAST(CASE WHEN (w0q + (w1q * x1)) + (w2q * x2) >= 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN vw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Three unrolled boosting rounds: each round's split constants are
    // re-derived from the previous round's residual table, then the
    // cohort prediction sums F0 and the three stump constants.
    // Same lowercased stop set; md5 over the space-joined remainder.
    "s58_stopwords" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |k AS (SELECT doc_id, toks,
        |    list_filter(toks, x -> NOT list_contains(
        |      ['join', 'hash', 'row', 'batch', 'scan'], lower(x))) AS kept
        |  FROM t)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, ' ')) AS kept_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // Three unrolled AFT descent rounds sharing the ε / gradient /
    // update / λ formula strings verbatim; the same positive-t gate.
    "s63_aft_survival" -> {
      import graft.ext.Learn
      val rounds = (1 to 3).map { k =>
        s"""g$k AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(c0) AS BIGINT) AS g0, CAST(sum(c1) AS BIGINT) AS g1,
           |    CAST(sum(c2) AS BIGINT) AS g2, CAST(sum(cs) AS BIGINT) AS gs
           |  FROM (SELECT ${Learn.aftGradBetaExpr("1")} AS c0,
           |      ${Learn.aftGradBetaExpr("x1")} AS c1,
           |      ${Learn.aftGradBetaExpr("x2")} AS c2,
           |      ${Learn.aftGradLsExpr} AS cs
           |    FROM feats CROSS JOIN a${k - 1})),
           |a$k AS (SELECT ${Learn.aftUpdExpr("lsm", "gs", 2e-4)} AS lsm,
           |    ${Learn.aftUpdExpr("b0m", "g0", 2e-4)} AS b0m,
           |    ${Learn.aftUpdExpr("b1m", "g1", 2e-4)} AS b1m,
           |    ${Learn.aftUpdExpr("b2m", "g2", 2e-4)} AS b2m
           |  FROM g$k CROSS JOIN a${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH f0 AS MATERIALIZED (
         |  SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
         |    max(l_shipdate) AS last_ship,
         |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem GROUP BY 1),
         |feats AS MATERIALIZED (
         |  SELECT f.o_orderkey,
         |    CAST(date_diff('day', o.o_orderdate, f.last_ship) + 1 AS BIGINT) AS t,
         |    CAST(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS del,
         |    CAST(least(f.n_items, 7) AS BIGINT) AS x1,
         |    CAST(least(f.qty // 20, 10) AS BIGINT) AS x2
         |  FROM f0 f JOIN orders o ON f.o_orderkey = o.o_orderkey
         |  WHERE date_diff('day', o.o_orderdate, f.last_ship) + 1 >= 1),
         |a0 AS (SELECT CAST(0 AS BIGINT) AS lsm, CAST(0 AS BIGINT) AS b0m,
         |    CAST(0 AS BIGINT) AS b1m, CAST(0 AS BIGINT) AS b2m),
         |$rounds
         |SELECT f.o_orderkey, f.t, f.del,
         |  CAST(round(${Learn.aftLambdaExpr} * 1000.0) AS BIGINT) AS pred_milli,
         |  CAST(round((${Learn.aftLambdaExpr} * exp(ln(ln(CAST(2.0 AS DOUBLE))) * ${Learn.aftSigmaExpr})) * 1000.0) AS BIGINT) AS median_milli,
         |  lsm, b0m, b1m, b2m
         |FROM feats f CROSS JOIN a3
         |WHERE f.o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin
    },

    // Mirror of CountVectorizerStage: (count desc, tok) vocabulary with
    // the df >= 2 gate, sparse per-(doc, term) counts via the same join.
    "s59_count_vectorizer" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, unnest(
        |    list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |st AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS tc,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS dc
        |  FROM t GROUP BY 1),
        |voc AS (SELECT tok, CAST(row_number() OVER (ORDER BY tc DESC, tok) - 1 AS BIGINT) AS j
        |  FROM (SELECT * FROM st WHERE dc >= 2 ORDER BY tc DESC, tok LIMIT 10))
        |SELECT t.doc_id, v.j, v.tok AS term, CAST(count(*) AS BIGINT) AS cnt
        |FROM t JOIN voc v USING (tok)
        |GROUP BY 1, 2, 3 ORDER BY doc_id, j""".stripMargin,

    // The chained mirror: regex-split tokens -> bigrams -> the s59
    // vocabulary/count machinery over bigrams.
    "s65_ngram_tf_pipeline" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM (
        |  SELECT doc_id, list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]) AS grams FROM (
        |    SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |        x -> len(x) > 0) AS toks FROM documents))),
        |st AS MATERIALIZED (SELECT gram, CAST(count(*) AS BIGINT) AS tc,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS dc
        |  FROM t GROUP BY 1),
        |voc AS (SELECT gram, CAST(row_number() OVER (ORDER BY tc DESC, gram) - 1 AS BIGINT) AS j
        |  FROM (SELECT * FROM st WHERE dc >= 2 ORDER BY tc DESC, gram LIMIT 8))
        |SELECT t.doc_id, v.j, v.gram, CAST(count(*) AS BIGINT) AS cnt
        |FROM t JOIN voc v USING (gram)
        |GROUP BY 1, 2, 3 ORDER BY doc_id, j""".stripMargin,

    // Bigrams via range(1, len): i runs 1..len−1, so short docs yield
    // the empty list and the digest of ''.
    "s60_ngram" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1]) AS grams FROM t)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  md5(array_to_string(grams, '|')) AS grams_md5
        |FROM g ORDER BY doc_id""".stripMargin,

    // Mirror of the plumbing chain: the indexer ranking (count desc,
    // status), the round-trip label is the original status, assembler /
    // slicer components are plain casts, the SQL stage's derived column.
    "s61_plumbing_stages" ->
      """WITH base AS MATERIALIZED (
        |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem l GROUP BY 1),
        |b2 AS MATERIALIZED (
        |  SELECT b.o_orderkey, b.n_items, b.qty, o.o_orderstatus,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM base b JOIN orders o ON b.o_orderkey = o.o_orderkey),
        |idx AS (SELECT o_orderstatus,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, o_orderstatus) - 1 AS BIGINT) AS st_idx
        |  FROM (SELECT o_orderstatus, count(*) AS cnt FROM b2 GROUP BY 1))
        |SELECT b.o_orderkey, i.st_idx, b.o_orderstatus AS st_rt,
        |  CAST(b.qty AS DOUBLE) AS fv2,
        |  CAST(b.n_items AS DOUBLE) AS sl1,
        |  CAST(b.cents AS DOUBLE) AS sl2,
        |  CAST(b.cents + b.qty AS BIGINT) AS cq
        |FROM b2 b JOIN idx i USING (o_orderstatus)
        |WHERE b.o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    // Mirror of VectorIndexerStage: zero-first-then-ascending category
    // order per small-domain feature; cents passes through raw;
    // n_categorical re-derives the categorical/continuous decision.
    "s62_vector_indexer" ->
      """WITH base AS MATERIALIZED (
        |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem l GROUP BY 1),
        |feats AS MATERIALIZED (
        |  SELECT b.o_orderkey, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(least(b.n_items, 5) AS BIGINT) AS items_c,
        |    CAST(b.qty % 3 - 1 AS BIGINT) AS r3
        |  FROM base b JOIN orders o ON b.o_orderkey = o.o_orderkey),
        |catn AS (SELECT v, CAST(row_number() OVER (ORDER BY (v <> 0), v) - 1 AS BIGINT) AS ix
        |  FROM (SELECT DISTINCT items_c AS v FROM feats)),
        |catr AS (SELECT v, CAST(row_number() OVER (ORDER BY (v <> 0), v) - 1 AS BIGINT) AS ix
        |  FROM (SELECT DISTINCT r3 AS v FROM feats)),
        |ncat AS (SELECT CAST(
        |    (CASE WHEN (SELECT count(DISTINCT cents) FROM feats) <= 10 THEN 1 ELSE 0 END)
        |  + (CASE WHEN (SELECT count(DISTINCT items_c) FROM feats) <= 10 THEN 1 ELSE 0 END)
        |  + (CASE WHEN (SELECT count(DISTINCT r3) FROM feats) <= 10 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_categorical)
        |SELECT f.o_orderkey, f.cents, cn.ix AS items_c_idx, cr.ix AS r3_idx,
        |  n.n_categorical
        |FROM feats f JOIN catn cn ON f.items_c = cn.v
        |JOIN catr cr ON f.r3 = cr.v CROSS JOIN ncat n
        |WHERE f.o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    // Exact integer expansion terms in the reference order.
    "s56_polynomial_expansion" ->
      """WITH base AS (
        |  SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderkey, x1 AS f1, CAST(x1 * x1 AS BIGINT) AS f2, x2 AS f3,
        |  CAST(x1 * x2 AS BIGINT) AS f4, CAST(x2 * x2 AS BIGINT) AS f5
        |FROM base WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    // Shared dct4Expr formula strings — identical cos arguments, one
    // rounding per coefficient.
    "s57_dct" -> {
      val ys = (0 until 4)
        .map(k => s"${graft.ext.Pipeline.dct4Expr(k)} AS y$k").mkString(",\n  ")
      s"""WITH base AS (
         |  SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2,
         |    CAST(min(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x3,
         |    CAST(max(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x4
         |  FROM lineitem GROUP BY 1)
         |SELECT o_orderkey, $ys
         |FROM base WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin
    },

    // Mirror of QuantileDiscretizerStage: quantile_cont == percentile at
    // the power-of-two quarters; the same reached-splits bucket rule.
    "s54_quantile_discretizer" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |sp AS (SELECT quantile_cont(cents, 0.25) AS q1,
        |              quantile_cont(cents, 0.5) AS q2,
        |              quantile_cont(cents, 0.75) AS q3 FROM c)
        |SELECT CAST((CASE WHEN cents >= q1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN cents >= q2 THEN 1 ELSE 0 END)
        |     + (CASE WHEN cents >= q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents
        |FROM c CROSS JOIN sp GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Mirror of RFormulaStage: the frequency-desc (tie alphabetical)
    // indexer ranking, k−1 dummies, the interaction product.
    "s53_rformula" ->
      """WITH base AS MATERIALIZED (
        |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem l GROUP BY 1),
        |b2 AS MATERIALIZED (
        |  SELECT b.o_orderkey, b.n_items, b.qty, o.o_orderstatus,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM base b JOIN orders o ON b.o_orderkey = o.o_orderkey),
        |idx AS (SELECT o_orderstatus,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, o_orderstatus) - 1 AS BIGINT) AS ix
        |  FROM (SELECT o_orderstatus, count(*) AS cnt FROM b2 GROUP BY 1))
        |SELECT b.o_orderkey, b.cents AS label,
        |  b.n_items AS f1, b.qty AS f2,
        |  CAST(CASE WHEN i.ix = 0 THEN 1 ELSE 0 END AS BIGINT) AS f3,
        |  CAST(CASE WHEN i.ix = 1 THEN 1 ELSE 0 END AS BIGINT) AS f4,
        |  CAST(b.n_items * b.qty AS BIGINT) AS f5
        |FROM b2 b JOIN idx i USING (o_orderstatus)
        |WHERE b.o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,

    // Three unrolled log-loss rounds sharing the gradient string and the
    // s26 split machinery; margin-sign predictions under gl3.
    "s52_gbt_logloss" ->
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1L)},
         |gl0 AS (SELECT o_orderkey, x1, x2,
         |  CAST((yq * 2) - 1 AS BIGINT) AS ys, 0::BIGINT AS fm FROM feats),
         |${gblRoundCte(1)},
         |${gblRoundCte(2)},
         |${gblRoundCte(3)}
         |SELECT o_orderkey, CAST((ys + 1) // 2 AS BIGINT) AS label,
         |  CAST(fm AS BIGINT) AS f_milli,
         |  CAST(CASE WHEN fm >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM gl3 WHERE o_orderkey <= 4000 ORDER BY o_orderkey""".stripMargin,

    // Three unrolled tree-boosting rounds; training rows' final carried
    // residual gives F = y − rq, identical to the Spark side's
    // literal-CASE tree-sum projection over the same cohort.
    "s68_gbt_trees" ->
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |gt0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym AS rq FROM gfeats),
         |${gbtTreeRoundCte(1)},
         |${gbtTreeRoundCte(2)},
         |${gbtTreeRoundCte(3)}
         |SELECT g.o_orderkey, g.ym AS y_milli,
         |  CAST(g.ym - t.rq AS BIGINT) AS pred_milli
         |FROM gfeats g JOIN gt3 t ON g.o_orderkey = t.o_orderkey
         |WHERE g.o_orderkey <= 4000 ORDER BY g.o_orderkey""".stripMargin,

    // Three unrolled per-tree regression chains (subset -> 2 variance
    // split levels -> mean leaves -> cohort routing), then the rounded
    // ensemble mean — every member's every split re-derived.
    "s69_rf_regression" ->
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |coh AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym AS y, 1::BIGINT AS node
         |  FROM gfeats WHERE o_orderkey <= 4000),
         |${rfRegTreeCtes(0)},
         |${rfRegTreeCtes(1)},
         |${rfRegTreeCtes(2)}
         |SELECT c.o_orderkey, CAST(c.y AS BIGINT) AS y_milli,
         |  CAST(v0p.pred AS BIGINT) AS p0, CAST(v1p.pred AS BIGINT) AS p1,
         |  CAST(v2p.pred AS BIGINT) AS p2,
         |  CAST(round(CAST(v0p.pred + v1p.pred + v2p.pred AS DOUBLE) / 3) AS BIGINT) AS pred_milli
         |FROM coh c
         |JOIN v0p ON v0p.o_orderkey = c.o_orderkey
         |JOIN v1p ON v1p.o_orderkey = c.o_orderkey
         |JOIN v2p ON v2p.o_orderkey = c.o_orderkey
         |ORDER BY c.o_orderkey""".stripMargin,

    // Three unrolled sign-gradient rounds from the floored-median F0,
    // sharing the residual string and the s26 split machinery; the final
    // carried margin IS the prediction (identical to the Spark side's
    // F0 + stump-sum projection over the same cohort).
    "s67_gbt_absolute" ->
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |af0 AS (SELECT CAST(floor(quantile_cont(ym, 0.5)) AS BIGINT) AS f0
         |  FROM gfeats),
         |ga0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym, f0 AS fm FROM gfeats CROSS JOIN af0),
         |${gbaRoundCte(1)},
         |${gbaRoundCte(2)},
         |${gbaRoundCte(3)}
         |SELECT o_orderkey, ym AS y_milli, CAST(fm AS BIGINT) AS pred_milli
         |FROM ga3 WHERE o_orderkey <= 4000 ORDER BY o_orderkey""".stripMargin,

    // The s20/s45 per-level CTE chain with the variance score string
    // substituted (abs-floor-div — `//` on absolute sums matches Spark's
    // toward-zero DIV) and mean-target leaves, plus the parent-split
    // join — the oracle re-derives every split of the regression tree.
    "s66_regression_tree" -> {
      val score = Learn.varianceScoreExpr("//")
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |vr0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym AS y, 1::BIGINT AS node FROM gfeats),
         |${dtLevelCte("v", 1, score)},
         |${dtLevelCte("v", 2, score)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS pred_milli
         |  FROM vr2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM vb1 b
         |    JOIN vs1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM vb2 b
         |    JOIN vs2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, sy, pred_milli,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin
    },

    // The s74 binning chain with ym carried through, then the s66
    // variance-score level CTEs over the binned features.
    "s78_binned_reg_tree" -> {
      val score = Learn.varianceScoreExpr("//")
      s"""WITH rows0 AS MATERIALIZED (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x1,
         |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x2,
         |    CAST(round(o_totalprice) + 100 * (o_orderkey % 13) AS BIGINT) AS ym
         |  FROM orders),
         |lfall AS MATERIALIZED (
         |  SELECT o_orderkey, 1::BIGINT AS feat, x1 AS val FROM rows0
         |  UNION ALL SELECT o_orderkey, 2::BIGINT, x2 FROM rows0),
         |samp AS (SELECT * FROM lfall
         |  WHERE CAST('0x' || substr(md5('bin:' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0),
         |cnts AS (SELECT feat, CAST(count(*) AS BIGINT) AS cnt FROM samp GROUP BY 1),
         |pos AS (SELECT DISTINCT feat, CAST((cnt * b) // 8 AS BIGINT) AS rnk
         |  FROM cnts CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7)) bb(b)
         |  WHERE (cnt * b) // 8 >= 1),
         |rankt AS (SELECT feat, val,
         |    CAST(row_number() OVER (PARTITION BY feat ORDER BY val, o_orderkey) AS BIGINT) AS rnk
         |  FROM samp),
         |tht AS MATERIALIZED (SELECT DISTINCT r.feat, r.val AS thr
         |  FROM rankt r JOIN pos p ON p.feat = r.feat AND p.rnk = r.rnk),
         |bx AS MATERIALIZED (SELECT l.o_orderkey, l.feat,
         |    coalesce(min(CASE WHEN t.thr >= l.val THEN t.thr END),
         |             4611686018427387904) AS bval
         |  FROM lfall l LEFT JOIN tht t ON t.feat = l.feat
         |  GROUP BY l.o_orderkey, l.feat, l.val),
         |ur0 AS MATERIALIZED (
         |  SELECT r.o_orderkey, bxa.bval AS x1, bxb.bval AS x2, r.ym AS y, 1::BIGINT AS node
         |  FROM rows0 r
         |  JOIN bx bxa ON bxa.o_orderkey = r.o_orderkey AND bxa.feat = 1
         |  JOIN bx bxb ON bxb.o_orderkey = r.o_orderkey AND bxb.feat = 2),
         |${dtLevelCte("u", 1, score)},
         |${dtLevelCte("u", 2, score)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS pred_dollars
         |  FROM ur2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM ub1 b
         |    JOIN us1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM ub2 b
         |    JOIN us2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, sy, pred_dollars,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin
    },

    "s26_gradient_boosted" ->
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |gf0 AS (SELECT CAST(CAST(sum(ym) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS f0
         |  FROM gfeats),
         |gr0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym, ym - f0 AS rq FROM gfeats CROSS JOIN gf0),
         |${gbtRoundCte(1)},
         |${gbtRoundCte(2)},
         |${gbtRoundCte(3)}
         |SELECT c.o_orderkey, c.ym AS y_milli,
         |  CAST(g.f0 + ${gbtTerm("b1")} + ${gbtTerm("b2")} + ${gbtTerm("b3")} AS BIGINT) AS pred_milli
         |FROM gfeats c CROSS JOIN gf0 g
         |CROSS JOIN gb1 b1 CROSS JOIN gb2 b2 CROSS JOIN gb3 b3
         |WHERE c.o_orderkey <= 4000
         |ORDER BY c.o_orderkey""".stripMargin,

    // The s26 chain at lr = 0.5 over four rounds — the leaf strings
    // carry the shrinkage multiplier inside the shared round().
    "s81_gbt_shrinkage" ->
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |gf0 AS (SELECT CAST(CAST(sum(ym) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS f0
         |  FROM gfeats),
         |gr0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym, ym - f0 AS rq FROM gfeats CROSS JOIN gf0),
         |${gbtRoundCte(1, 0.5)},
         |${gbtRoundCte(2, 0.5)},
         |${gbtRoundCte(3, 0.5)},
         |${gbtRoundCte(4, 0.5)}
         |SELECT c.o_orderkey, c.ym AS y_milli,
         |  CAST(g.f0 + ${gbtTerm("b1")} + ${gbtTerm("b2")} + ${gbtTerm("b3")} + ${gbtTerm("b4")} AS BIGINT) AS pred_milli
         |FROM gfeats c CROSS JOIN gf0 g
         |CROSS JOIN gb1 b1 CROSS JOIN gb2 b2 CROSS JOIN gb3 b3 CROSS JOIN gb4 b4
         |WHERE c.o_orderkey <= 4000
         |ORDER BY c.o_orderkey""".stripMargin,

    // All 8 rounds unrolled, then the stop round re-derived from the
    // error series (pre-stop errors are provably monotone under the
    // always-stop-on-increase rule, so best-so-far = previous verr)
    // and the output filtered to the executed prefix — the same rows
    // the halting Spark loop emits.
    "s76_gbt_validated" -> {
      val rounds = (1 to 8).map(gbvRoundCte).mkString(",\n")
      val errs = (1 to 8).map(k => s"SELECT $k AS round, verr FROM ve$k")
        .mkString("\n  UNION ALL ")
      val model = (1 to 8)
        .map(k => s"SELECT $k AS round, feat, thr, leftq, rightq FROM tb$k")
        .mkString("\n  UNION ALL ")
      s"""WITH $ordersBaseCte,
         |gfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST((qty + 5 * (o_orderkey % 13)) * 1000 AS BIGINT) AS ym
         |  FROM base),
         |gf0 AS (SELECT CAST(CAST(sum(ym) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS f0
         |  FROM gfeats WHERE o_orderkey % 4 != 0),
         |tr0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym, ym - f0 AS rq
         |  FROM gfeats CROSS JOIN gf0 WHERE o_orderkey % 4 != 0),
         |tv0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, ym, ym - f0 AS rq
         |  FROM gfeats CROSS JOIN gf0 WHERE o_orderkey % 4 = 0),
         |ve0 AS (SELECT CAST(CAST(sum(rq * rq) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS verr
         |  FROM tv0),
         |$rounds,
         |errs AS (SELECT 0 AS round, verr FROM ve0
         |  UNION ALL $errs),
         |tests AS (SELECT round, verr,
         |    min(verr) OVER (ORDER BY round ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
         |  FROM errs),
         |sr AS (SELECT coalesce(min(round), 9) AS stopm FROM tests
         |  WHERE round >= 1 AND (best - verr) * 1000000 < 100000 * greatest(verr, 10)),
         |modelr AS (SELECT 0 AS round, 0::BIGINT AS feat, CAST(-1 AS BIGINT) AS thr,
         |    f0 AS leftq, f0 AS rightq FROM gf0
         |  UNION ALL $model)
         |SELECT CAST(m.round AS BIGINT) AS round, CAST(m.feat AS BIGINT) AS feat,
         |  CAST(m.thr AS BIGINT) AS thr, CAST(m.leftq AS BIGINT) AS leftq,
         |  CAST(m.rightq AS BIGINT) AS rightq, CAST(e.verr AS BIGINT) AS verr_milli2,
         |  CAST(CASE WHEN m.round < s.stopm THEN 1 ELSE 0 END AS BIGINT) AS in_model,
         |  CAST(CASE WHEN m.round = s.stopm THEN 1 ELSE 0 END AS BIGINT) AS stopped
         |FROM modelr m
         |JOIN errs e ON e.round = m.round
         |CROSS JOIN sr s
         |WHERE m.round <= least(s.stopm, 8)
         |ORDER BY m.round""".stripMargin
    },

    // 8 unrolled full-batch gradient iterations sharing Learn's sigmoid /
    // update formula strings, then cohort scoring under w8.
    // Six unrolled L-BFGS(m=1) iterations over the shared staged
    // two-loop, then the s19 prediction projection under lb6.
    "s50_lbfgs" -> {
      val iters = (1 to 6).map(lbfgsIterCte(_, 0.5, 1.0)).mkString(",\n")
      val zeros = (0 to 2).flatMap(i => Seq(s"0::BIGINT AS w${i}q",
        s"0::BIGINT AS pw${i}q", s"0::BIGINT AS pg$i")).mkString(", ")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1000000L)},
         |lb0 AS (SELECT $zeros),
         |$iters
         |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label,
         |  ${Learn.lrProbExpr} AS p_micro,
         |  CAST(CASE WHEN ${Learn.lrProbExpr} >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN lb6 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    "s19_logistic_regression" -> {
      val iters = (1 to 8).map(lrIterCte(_, 1.0)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1000000L)},
         |w0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label,
         |  ${Learn.lrProbExpr} AS p_micro,
         |  CAST(CASE WHEN ${Learn.lrProbExpr} >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN w8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // The s19 oracle with the feature axis at d = 3 (lrIterCteK shares
    // lrProbExprK/lrUpdExpr verbatim).
    "s105_logistic_k" -> {
      val iters = (1 to 8).map(lrIterCteK(_, 3, 1.0)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1000000L)},
         |feats3 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, CAST(o_orderkey % 13 AS BIGINT) AS x3, yq
         |  FROM feats),
         |w0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q,
         |  0::BIGINT AS w3q),
         |$iters
         |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label,
         |  ${Learn.lrProbExprK(3)} AS p_micro,
         |  CAST(CASE WHEN ${Learn.lrProbExprK(3)} >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM feats3 CROSS JOIN w8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // The s87 oracle at K = 4: nine gradient sums per round, the same
    // generated probability / complement / argmax strings.
    "s107_softmax_k4" -> {
      val K = 4
      val iters = (1 to 12).map { k =>
        val esels = (1 until K).map(kk =>
          s"      CAST(CASE WHEN y = $kk THEN 1000000 ELSE 0 END AS BIGINT) - ${Learn.smProbExprK(kk, K)} AS e$kk")
          .mkString(",\n|")
        val gsums = (for (kk <- 1 until K; j <- 0 to 2) yield
          if (j == 0) s"    CAST(sum(e$kk) AS BIGINT) AS g0$kk"
          else s"    CAST(sum(e$kk * x$j) AS BIGINT) AS g$j$kk").mkString(",\n|")
        val upds = (for (kk <- 1 until K; j <- 0 to 2)
          yield s"    ${Learn.lrUpdExpr(s"w$j${kk}q", s"g$j$kk", 2.0)} AS w$j${kk}q")
          .mkString(",\n|")
        s"""mg$k AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |$gsums
           |  FROM (SELECT x1, x2,
           |$esels
           |    FROM mfeats CROSS JOIN mw${k - 1})),
           |mw$k AS MATERIALIZED (
           |  SELECT
           |$upds
           |  FROM mg$k CROSS JOIN mw${k - 1})""".stripMargin
      }.mkString(",\n")
      val probs = (1 until K).map(kk =>
        s"${Learn.smProbExprK(kk, K)} AS p${kk}_micro").mkString(",\n|  ")
      val pcols = (1 until K).map(kk => s"p${kk}_micro").mkString(", ")
      s"""WITH $ordersBaseCte,
         |mfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST((qty // 10) - 10 AS BIGINT) AS x2,
         |    CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 165 THEN 3
         |         WHEN qty + 5 * (o_orderkey % 13) > 135 THEN 2
         |         WHEN qty + 5 * (o_orderkey % 13) > 105 THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM base),
         |mw0 AS (SELECT ${(for (kk <- 1 until K; j <- 0 to 2)
            yield s"0::BIGINT AS w$j${kk}q").mkString(", ")}),
         |$iters,
         |scored AS (SELECT o_orderkey, CAST(y AS BIGINT) AS label,
         |  $probs
         |  FROM mfeats CROSS JOIN mw12 WHERE o_orderkey <= 4000)
         |SELECT o_orderkey, label, p0_micro, $pcols, ${Learn.smArgmaxExprK(K)}
         |FROM (SELECT o_orderkey, label, $pcols, ${Learn.smP0ExprK(K)} FROM scored)
         |ORDER BY o_orderkey""".stripMargin
    },

    // Twelve unrolled softmax iterations: the shared probability
    // strings, six exact gradient sums per round, the s19 update per
    // block weight.
    "s87_softmax_regression" -> {
      val iters = (1 to 12).map { k =>
        val upds = (for (kk <- 1 to 2; j <- 0 to 2)
          yield s"${Learn.lrUpdExpr(s"w$j${kk}q", s"g$j$kk", 2.0)} AS w$j${kk}q")
          .mkString(",\n    ")
        s"""mg$k AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(e1) AS BIGINT) AS g01, CAST(sum(e1 * x1) AS BIGINT) AS g11,
           |    CAST(sum(e1 * x2) AS BIGINT) AS g21,
           |    CAST(sum(e2) AS BIGINT) AS g02, CAST(sum(e2 * x1) AS BIGINT) AS g12,
           |    CAST(sum(e2 * x2) AS BIGINT) AS g22
           |  FROM (SELECT x1, x2,
           |      CAST(CASE WHEN y = 1 THEN 1000000 ELSE 0 END AS BIGINT) - ${Learn.smProbExpr(1)} AS e1,
           |      CAST(CASE WHEN y = 2 THEN 1000000 ELSE 0 END AS BIGINT) - ${Learn.smProbExpr(2)} AS e2
           |    FROM mfeats CROSS JOIN mw${k - 1})),
           |mw$k AS MATERIALIZED (
           |  SELECT $upds
           |  FROM mg$k CROSS JOIN mw${k - 1})""".stripMargin
      }.mkString(",\n")
      val zeros = (for (kk <- 1 to 2; j <- 0 to 2)
        yield s"0::BIGINT AS w$j${kk}q").mkString(", ")
      s"""WITH $ordersBaseCte,
         |mfeats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST((qty // 10) - 10 AS BIGINT) AS x2,
         |    CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 150 THEN 2
         |         WHEN qty + 5 * (o_orderkey % 13) > 115 THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM base),
         |mw0 AS (SELECT $zeros),
         |$iters,
         |scored AS (
         |  SELECT o_orderkey, CAST(y AS BIGINT) AS label,
         |    ${Learn.smProbExpr(1)} AS p1_micro, ${Learn.smProbExpr(2)} AS p2_micro
         |  FROM mfeats CROSS JOIN mw12 WHERE o_orderkey <= 4000)
         |SELECT o_orderkey, label,
         |  CAST(1000000 - (p1_micro + p2_micro) AS BIGINT) AS p0_micro,
         |  p1_micro, p2_micro,
         |  CAST(CASE WHEN 1000000 - (p1_micro + p2_micro) >= p1_micro
         |         AND 1000000 - (p1_micro + p2_micro) >= p2_micro THEN 0
         |       WHEN p1_micro >= p2_micro THEN 1 ELSE 2 END AS BIGINT) AS pred
         |FROM scored ORDER BY o_orderkey""".stripMargin
    },

    // Eight unrolled full-batch iterations under the per-iteration
    // decayed + L2 update strings, then cohort scoring under dw8.
    "s85_sgd_decay_l2" -> {
      val iters = (1 to 8).map { k =>
        s"""dg$k AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(yq - pq) AS BIGINT) AS g0,
           |    CAST(sum((yq - pq) * x1) AS BIGINT) AS g1,
           |    CAST(sum((yq - pq) * x2) AS BIGINT) AS g2
           |  FROM (SELECT yq, x1, x2, ${Learn.lrProbExpr} AS pq
           |        FROM feats CROSS JOIN dw${k - 1})),
           |dw$k AS MATERIALIZED (
           |  SELECT ${Learn.lrUpdDecayL2Expr("w0q", "g0", 1.0, k, 0.001)} AS w0q,
           |    ${Learn.lrUpdDecayL2Expr("w1q", "g1", 1.0, k, 0.001)} AS w1q,
           |    ${Learn.lrUpdDecayL2Expr("w2q", "g2", 1.0, k, 0.001)} AS w2q
           |  FROM dg$k CROSS JOIN dw${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1000000L)},
         |dw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label,
         |  ${Learn.lrProbExpr} AS p_micro,
         |  CAST(CASE WHEN ${Learn.lrProbExpr} >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN dw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Eight unrolled rotating-quarter-batch iterations sharing the s19
    // sigmoid/update strings, then cohort scoring under sw8.
    "s84_minibatch_sgd" -> {
      val iters = (1 to 8).map(sgdIterCte(_, 1.0, 4)).mkString(",\n")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(10, 1000000L)},
         |sw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, CAST(yq // 1000000 AS BIGINT) AS label,
         |  ${Learn.lrProbExpr} AS p_micro,
         |  CAST(CASE WHEN ${Learn.lrProbExpr} >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM feats CROSS JOIN sw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Two unrolled histogram-split levels, then the leaf populations —
    // the oracle re-derives every split, gating the whole selection.
    // The s20 chain with the entropy score string substituted into the
    // shared per-level CTE generator, plus the parent-split join.
    "s45_entropy_tree" ->
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(25, 1L)},
         |er0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node FROM feats),
         |${dtLevelCte("e", 1, Learn.entropyScoreExpr)},
         |${dtLevelCte("e", 2, Learn.entropyScoreExpr)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM er2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM eb1 b
         |    JOIN es1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM eb2 b
         |    JOIN es2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin,

    // The s20 chain with the shared stopping-filter string applied
    // inside each level's argmax — a node whose every candidate fails
    // gets no split row and stays a leaf through the route's left join.
    "s80_pruned_tree" -> {
      val f = Learn.treeCandFilterExpr(500L, 40L, "//")
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(25, 1L)},
         |yr0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node FROM feats),
         |${dtLevelCte("y", 1, extraFilter = f)},
         |${dtLevelCte("y", 2, extraFilter = f)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM yr2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM yb1 b
         |    JOIN ys1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM yb2 b
         |    JOIN ys2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin
    },

    // Mirror of categoricalTree2: per-status label centroids, the
    // nano-quantized centroid rank order (value tiebreak), the s20
    // level CTEs over the rank-encoded frame, and feat-1 splits
    // rendered as centroid-order membership prefixes.
    "s88_categorical_tree" ->
      s"""WITH rows0 AS MATERIALIZED (
         |  SELECT o_orderkey, o_orderstatus AS cat,
         |    CAST(o_orderkey % 7 AS BIGINT) AS x2,
         |    CAST(CASE WHEN o_orderstatus = 'O' THEN CASE WHEN o_orderkey % 10 < 1 THEN 1 ELSE 0 END
         |         WHEN o_orderstatus = 'F' THEN CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE 0 END
         |         ELSE CASE WHEN o_orderkey % 10 < 8 THEN 1 ELSE 0 END END AS BIGINT) AS y
         |  FROM orders),
         |cstat AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy FROM rows0 GROUP BY 1),
         |cranks AS MATERIALIZED (SELECT cat,
         |    CAST(row_number() OVER (ORDER BY (sy * 1000000000) // n, cat) AS BIGINT) AS crank
         |  FROM cstat),
         |zr0 AS MATERIALIZED (
         |  SELECT r.o_orderkey, c.crank AS x1, r.x2, r.y, 1::BIGINT AS node
         |  FROM rows0 r JOIN cranks c USING (cat)),
         |${dtLevelCte("z", 1)},
         |${dtLevelCte("z", 2)},
         |allsplits AS (SELECT node, feat, thr FROM zb1
         |  UNION ALL SELECT node, feat, thr FROM zb2),
         |cuts AS (SELECT s.node, s.feat AS parent_feat,
         |    CASE WHEN s.feat = 1 THEN
         |      (SELECT string_agg(cat, ',' ORDER BY crank) FROM cranks WHERE crank <= s.thr)
         |    ELSE CAST(s.thr AS VARCHAR) END AS parent_cut
         |  FROM allsplits s),
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM zr2 GROUP BY 1)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.parent_feat, 0) AS BIGINT) AS parent_feat,
         |  coalesce(p.parent_cut, '-') AS parent_cut
         |FROM leaves LEFT JOIN cuts p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin,

    // Mirror of multiclassCategoricalTree: the driver-enumerated subset
    // membership VALUES, per-level (node, cat, class) AND (node, x2,
    // class) histograms, subset + prefix-threshold candidates unioned
    // into one argmax under the shared three-class gini currency
    // (ties: kind then key), and the kind-routed membership/threshold
    // CASE with the no-split stay-put branch.
    "s90_multiclass_categorical" -> {
      import graft.ext.Learn
      val cats = Seq("F", "O", "P") // o_orderstatus domain, value-sorted
      val memVals = (1 until (1 << (cats.length - 1))).flatMap { sid =>
        cats.dropRight(1).zipWithIndex.collect {
          case (c, i) if (sid & (1 << i)) != 0 => s"($sid, '$c')"
        }
      }.mkString(", ")
      def lvl(k: Int): String = {
        val prev = s"mr${k - 1}"
        s"""h$k AS (SELECT node, cat,
           |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |    CAST(sum(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
           |  FROM $prev GROUP BY 1, 2),
           |t$k AS (SELECT node, CAST(sum(c0) AS BIGINT) AS t0,
           |    CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2,
           |    CAST(sum(c0 + (c1 + c2)) AS BIGINT) AS tn
           |  FROM h$k GROUP BY 1),
           |hn$k AS (SELECT node, x2,
           |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |    CAST(sum(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
           |  FROM $prev GROUP BY 1, 2),
           |uc$k AS (
           |  SELECT h.node, 1::BIGINT AS kind, m.sid AS key,
           |    CAST(sum(c0) AS BIGINT) AS l0, CAST(sum(c1) AS BIGINT) AS l1,
           |    CAST(sum(c2) AS BIGINT) AS l2
           |  FROM h$k h JOIN mem m USING (cat) GROUP BY 1, 2, 3
           |  UNION ALL
           |  SELECT node, 2::BIGINT, x2,
           |    CAST(sum(c0) OVER wc AS BIGINT), CAST(sum(c1) OVER wc AS BIGINT),
           |    CAST(sum(c2) OVER wc AS BIGINT)
           |  FROM hn$k
           |  WINDOW wc AS (PARTITION BY node ORDER BY x2 ROWS UNBOUNDED PRECEDING)),
           |c$k AS (SELECT node, kind, key, ${Learn.mc3ScoreExpr("//")} AS score
           |  FROM (SELECT *, CAST(l0 + (l1 + l2) AS BIGINT) AS nl
           |    FROM uc$k JOIN t$k USING (node))
           |  WHERE nl > 0 AND tn - nl > 0),
           |b$k AS MATERIALIZED (SELECT node, kind, key FROM (SELECT node, kind, key,
           |    row_number() OVER (PARTITION BY node ORDER BY score DESC, kind, key) AS rn
           |  FROM c$k) WHERE rn = 1),
           |mr$k AS MATERIALIZED (SELECT r.cat, r.x2, r.y,
           |    CASE WHEN b.node IS NULL THEN r.node
           |         WHEN b.kind = 1 THEN
           |           (CASE WHEN m.cat IS NOT NULL THEN r.node * 2 ELSE r.node * 2 + 1 END)
           |         ELSE (CASE WHEN r.x2 <= b.key THEN r.node * 2 ELSE r.node * 2 + 1 END)
           |    END AS node
           |  FROM $prev r
           |  LEFT JOIN b$k b ON b.node = r.node
           |  LEFT JOIN (SELECT b2.node, mem.cat FROM b$k b2 JOIN mem ON mem.sid = b2.key
           |             WHERE b2.kind = 1) m
           |    ON m.node = r.node AND m.cat = r.cat)""".stripMargin
      }
      s"""WITH mem AS (SELECT * FROM (VALUES $memVals) AS v(sid, cat)),
         |mr0 AS MATERIALIZED (SELECT o_orderstatus AS cat,
         |    CAST(o_orderkey % 7 AS BIGINT) AS x2,
         |    CAST(CASE WHEN o_orderstatus = 'O' THEN CASE WHEN o_orderkey % 10 < 8 THEN 0 ELSE 2 END
         |         WHEN o_orderstatus = 'F' THEN CASE WHEN o_orderkey % 10 < 8 THEN 2 ELSE 0 END
         |         ELSE CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE 0 END END AS BIGINT) AS y,
         |    1::BIGINT AS node
         |  FROM orders),
         |${lvl(1)},
         |${lvl(2)},
         |slabel AS (SELECT sid, string_agg(cat, ',' ORDER BY cat) AS cats
         |  FROM mem GROUP BY 1),
         |allsplits AS (SELECT node, kind, key FROM b1
         |  UNION ALL SELECT node, kind, key FROM b2),
         |cuts AS (SELECT s.node, s.kind AS parent_kind,
         |    CASE WHEN s.kind = 1 THEN (SELECT cats FROM slabel WHERE sid = s.key)
         |         ELSE CAST(s.key AS VARCHAR) END AS parent_cut
         |  FROM allsplits s),
         |leaves AS (SELECT node AS leaf,
         |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN y = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM mr2 GROUP BY 1)
         |SELECT leaf, CAST(n0 + (n1 + n2) AS BIGINT) AS n, n0, n1, n2,
         |  CAST(CASE WHEN n0 >= n1 AND n0 >= n2 THEN 0
         |       WHEN n1 >= n2 THEN 1 ELSE 2 END AS BIGINT) AS pred,
         |  CAST(coalesce(p.parent_kind, 0) AS BIGINT) AS parent_kind,
         |  coalesce(p.parent_cut, '-') AS parent_cut
         |FROM leaves LEFT JOIN cuts p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin
    },

    // Mirror of categoricalRegressionTree2: target-mean centroid ranks,
    // the s78 variance level CTEs over the rank-encoded frame, and
    // feat-1 splits rendered as centroid-order membership prefixes.
    "s91_categorical_reg_tree" -> {
      val score = Learn.varianceScoreExpr("//")
      s"""WITH rows0 AS MATERIALIZED (
         |  SELECT o_orderkey, o_orderstatus AS cat,
         |    CAST(o_orderkey % 7 AS BIGINT) AS x2,
         |    CAST(CASE WHEN o_orderstatus = 'O' THEN 1000
         |         WHEN o_orderstatus = 'F' THEN 9000 ELSE 8000 END
         |      + (o_orderkey % 100) * 10 AS BIGINT) AS ym
         |  FROM orders),
         |cstat AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(ym) AS BIGINT) AS sy FROM rows0 GROUP BY 1),
         |cranks AS MATERIALIZED (SELECT cat,
         |    CAST(row_number() OVER (ORDER BY (sy * 1000000000) // n, cat) AS BIGINT) AS crank
         |  FROM cstat),
         |ur0 AS MATERIALIZED (
         |  SELECT r.o_orderkey, c.crank AS x1, r.x2, r.ym AS y, 1::BIGINT AS node
         |  FROM rows0 r JOIN cranks c USING (cat)),
         |${dtLevelCte("u", 1, score)},
         |${dtLevelCte("u", 2, score)},
         |allsplits AS (SELECT node, feat, thr FROM ub1
         |  UNION ALL SELECT node, feat, thr FROM ub2),
         |cuts AS (SELECT s.node, s.feat AS parent_feat,
         |    CASE WHEN s.feat = 1 THEN
         |      (SELECT string_agg(cat, ',' ORDER BY crank) FROM cranks WHERE crank <= s.thr)
         |    ELSE CAST(s.thr AS VARCHAR) END AS parent_cut
         |  FROM allsplits s),
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS pred_milli
         |  FROM ur2 GROUP BY 1)
         |SELECT leaf, n, sy, pred_milli,
         |  CAST(coalesce(p.parent_feat, 0) AS BIGINT) AS parent_feat,
         |  coalesce(p.parent_cut, '-') AS parent_cut
         |FROM leaves LEFT JOIN cuts p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin
    },

    // Mirror of binnedFeatures + decisionTree2: the hash sample, the
    // per-feature rank order statistics at (cnt·b) // 8, the
    // min-threshold-≥-value bin mapping (a join aggregate standing in
    // for the Spark side's collected CASE — same values), then the
    // s20 level CTEs over the binned features and the s45 parent join.
    "s74_binned_tree" ->
      s"""WITH rows0 AS MATERIALIZED (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x1,
         |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x2,
         |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM orders),
         |lfall AS MATERIALIZED (
         |  SELECT o_orderkey, 1::BIGINT AS feat, x1 AS val FROM rows0
         |  UNION ALL SELECT o_orderkey, 2::BIGINT, x2 FROM rows0),
         |samp AS (SELECT * FROM lfall
         |  WHERE CAST('0x' || substr(md5('bin:' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0),
         |cnts AS (SELECT feat, CAST(count(*) AS BIGINT) AS cnt FROM samp GROUP BY 1),
         |pos AS (SELECT DISTINCT feat, CAST((cnt * b) // 8 AS BIGINT) AS rnk
         |  FROM cnts CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7)) bb(b)
         |  WHERE (cnt * b) // 8 >= 1),
         |rankt AS (SELECT feat, val,
         |    CAST(row_number() OVER (PARTITION BY feat ORDER BY val, o_orderkey) AS BIGINT) AS rnk
         |  FROM samp),
         |tht AS MATERIALIZED (SELECT DISTINCT r.feat, r.val AS thr
         |  FROM rankt r JOIN pos p ON p.feat = r.feat AND p.rnk = r.rnk),
         |bx AS MATERIALIZED (SELECT l.o_orderkey, l.feat,
         |    coalesce(min(CASE WHEN t.thr >= l.val THEN t.thr END),
         |             4611686018427387904) AS bval
         |  FROM lfall l LEFT JOIN tht t ON t.feat = l.feat
         |  GROUP BY l.o_orderkey, l.feat, l.val),
         |zr0 AS MATERIALIZED (
         |  SELECT r.o_orderkey, bxa.bval AS x1, bxb.bval AS x2, r.y, 1::BIGINT AS node
         |  FROM rows0 r
         |  JOIN bx bxa ON bxa.o_orderkey = r.o_orderkey AND bxa.feat = 1
         |  JOIN bx bxb ON bxb.o_orderkey = r.o_orderkey AND bxb.feat = 2),
         |${dtLevelCte("z", 1)},
         |${dtLevelCte("z", 2)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM zr2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb1 b
         |    JOIN zs1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb2 b
         |    JOIN zs2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin,

    // The dtLevelCte machinery at nFeats = 3: three stacked histogram
    // legs per level, the route pick CASE over all three features.
    "s102_tree_3feat" ->
      s"""WITH feats AS MATERIALIZED (
         |  SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |    CAST(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) // 10 AS BIGINT) AS x2,
         |    CAST(CAST(round(max(l_extendedprice)) AS BIGINT) // 20000 AS BIGINT) AS x3
         |  FROM lineitem GROUP BY 1),
         |zr0 AS MATERIALIZED (
         |  SELECT f.o_orderkey, f.x1, f.x2, f.x3,
         |    CAST(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS y,
         |    1::BIGINT AS node
         |  FROM feats f JOIN orders o USING (o_orderkey)),
         |${dtLevelCte("z", 1, nFeats = 3)},
         |${dtLevelCte("z", 2, nFeats = 3)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM zr2 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb1 b
         |    JOIN zs1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb2 b
         |    JOIN zs2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin,

    // The s74 oracle with a THIRD unrolled level: same binning CTEs,
    // leaves off zr3, parent splits unioned over all three generations.
    "s99_binned_tree_depth3" ->
      s"""WITH rows0 AS MATERIALIZED (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS x1,
         |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x2,
         |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS y
         |  FROM orders),
         |lfall AS MATERIALIZED (
         |  SELECT o_orderkey, 1::BIGINT AS feat, x1 AS val FROM rows0
         |  UNION ALL SELECT o_orderkey, 2::BIGINT, x2 FROM rows0),
         |samp AS (SELECT * FROM lfall
         |  WHERE CAST('0x' || substr(md5('bin:' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0),
         |cnts AS (SELECT feat, CAST(count(*) AS BIGINT) AS cnt FROM samp GROUP BY 1),
         |pos AS (SELECT DISTINCT feat, CAST((cnt * b) // 8 AS BIGINT) AS rnk
         |  FROM cnts CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7)) bb(b)
         |  WHERE (cnt * b) // 8 >= 1),
         |rankt AS (SELECT feat, val,
         |    CAST(row_number() OVER (PARTITION BY feat ORDER BY val, o_orderkey) AS BIGINT) AS rnk
         |  FROM samp),
         |tht AS MATERIALIZED (SELECT DISTINCT r.feat, r.val AS thr
         |  FROM rankt r JOIN pos p ON p.feat = r.feat AND p.rnk = r.rnk),
         |bx AS MATERIALIZED (SELECT l.o_orderkey, l.feat,
         |    coalesce(min(CASE WHEN t.thr >= l.val THEN t.thr END),
         |             4611686018427387904) AS bval
         |  FROM lfall l LEFT JOIN tht t ON t.feat = l.feat
         |  GROUP BY l.o_orderkey, l.feat, l.val),
         |zr0 AS MATERIALIZED (
         |  SELECT r.o_orderkey, bxa.bval AS x1, bxb.bval AS x2, r.y, 1::BIGINT AS node
         |  FROM rows0 r
         |  JOIN bx bxa ON bxa.o_orderkey = r.o_orderkey AND bxa.feat = 1
         |  JOIN bx bxb ON bxb.o_orderkey = r.o_orderkey AND bxb.feat = 2),
         |${dtLevelCte("z", 1)},
         |${dtLevelCte("z", 2)},
         |${dtLevelCte("z", 3)},
         |leaves AS (SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |  FROM zr3 GROUP BY 1),
         |allsplits AS (
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb1 b
         |    JOIN zs1 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb2 b
         |    JOIN zs2 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr
         |  UNION ALL
         |  SELECT b.node, b.feat, b.thr, s.score FROM zb3 b
         |    JOIN zs3 s ON s.node = b.node AND s.feat = b.feat AND s.val = b.thr)
         |SELECT leaf, n, n_pos, pred,
         |  CAST(coalesce(p.feat, 0) AS BIGINT) AS parent_feat,
         |  CAST(coalesce(p.thr, -1) AS BIGINT) AS parent_thr,
         |  CAST(coalesce(p.score, 0) AS BIGINT) AS parent_score
         |FROM leaves LEFT JOIN allsplits p ON leaf // 2 = p.node
         |ORDER BY leaf""".stripMargin,

    "s20_decision_tree" ->
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(25, 1L)},
         |r0 AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node FROM feats),
         |${dtLevelCte("", 1)},
         |${dtLevelCte("", 2)}
         |SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM r2 GROUP BY 1 ORDER BY leaf""".stripMargin,

    // The s25 vote with each tree's training base feature-restricted
    // by the zeroed column.
    "s83_rf_feature_subset" ->
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(25, 1L)},
         |coh AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node
         |  FROM feats WHERE o_orderkey <= 4000),
         |${rfFsTreeCtes(0)},
         |${rfFsTreeCtes(1)},
         |${rfFsTreeCtes(2)}
         |SELECT c.o_orderkey, CAST(c.y AS BIGINT) AS label,
         |  CAST(u0p.pred + u1p.pred + u2p.pred AS BIGINT) AS votes,
         |  CAST(CASE WHEN 2 * (u0p.pred + u1p.pred + u2p.pred) > 3 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM coh c
         |JOIN u0p ON u0p.o_orderkey = c.o_orderkey
         |JOIN u1p ON u1p.o_orderkey = c.o_orderkey
         |JOIN u2p ON u2p.o_orderkey = c.o_orderkey
         |ORDER BY c.o_orderkey""".stripMargin,

    // Three unrolled per-tree (subset -> 2 split levels -> leaf preds ->
    // cohort routing) chains, then the majority vote — every tree's
    // every split is the oracle's to re-derive.
    "s25_random_forest" ->
      s"""WITH $ordersBaseCte,
         |${lrFeatsCte(25, 1L)},
         |coh AS MATERIALIZED (
         |  SELECT o_orderkey, x1, x2, yq AS y, 1::BIGINT AS node
         |  FROM feats WHERE o_orderkey <= 4000),
         |${rfTreeCtes(0)},
         |${rfTreeCtes(1)},
         |${rfTreeCtes(2)}
         |SELECT c.o_orderkey, CAST(c.y AS BIGINT) AS label,
         |  CAST(t0p.pred + t1p.pred + t2p.pred AS BIGINT) AS votes,
         |  CAST(CASE WHEN 2 * (t0p.pred + t1p.pred + t2p.pred) > 3 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM coh c
         |JOIN t0p ON t0p.o_orderkey = c.o_orderkey
         |JOIN t1p ON t1p.o_orderkey = c.o_orderkey
         |JOIN t2p ON t2p.o_orderkey = c.o_orderkey
         |ORDER BY c.o_orderkey""".stripMargin,

    // One exact-integer-sum scan -> graft.ext.Pipeline.Moments2's three
    // formula levels verbatim -> micro-quantized z-scores + projection.
    // Mirrors of the MLP kernel (Learn.mlpFitDh evaluates these strings
    // on the JVM; here DuckDB runs them): two unrolled SQL backprop steps
    // over each query's feats CTE, then the scoring projection.
    "s44_mlp" -> mlpOracleSql(lrFeatsCte(10, 1000000L), d = 2, h = 2),
    "s112_mlp_dh" -> mlpOracleSql(
      s"""feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST(o_orderkey % 7 AS BIGINT) AS x3,
         |         CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1000000 ELSE 0 END AS BIGINT) AS yq
         |  FROM base)""".stripMargin, d = 3, h = 3),

    // Mirror of the OVR reduction: one prefixed 4-iteration logistic
    // chain per class over its own rest-label CTE, then the scoring
    // union + argmax (row_number with the pinned (p DESC, class ASC)
    // tie rule).
    "s43_one_vs_rest" -> {
      val classes = Seq(0, 1, 2)
      val chains = classes.map { c =>
        val label =
          s"""fc$c AS MATERIALIZED (
             |  SELECT o_orderkey, x1, x2,
             |         CAST(CASE WHEN cls = $c THEN 1000000 ELSE 0 END AS BIGINT) AS yq
             |  FROM fx),
             |c${c}w0 AS (SELECT CAST(0 AS BIGINT) AS w0q, CAST(0 AS BIGINT) AS w1q, CAST(0 AS BIGINT) AS w2q)""".stripMargin
        (Seq(label) ++ (1 to 4).map(k => lrIterCteP(s"c$c", k, 1.0))).mkString(",\n")
      }.mkString(",\n")
      val scoreUnion = classes.map { c =>
        s"""  SELECT o_orderkey, cls, CAST($c AS BIGINT) AS mcls, ${Learn.lrProbExpr} AS p_micro
           |  FROM (SELECT * FROM fx WHERE o_orderkey <= 2000) CROSS JOIN c${c}w4""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH $ordersBaseCte,
         |fx AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST(CASE WHEN qty <= 80 THEN 0 WHEN qty <= 160 THEN 1 ELSE 2 END AS BIGINT) AS cls
         |  FROM base),
         |$chains,
         |scores AS MATERIALIZED (
         |$scoreUnion),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY p_micro DESC, mcls ASC) AS rn
         |  FROM scores)
         |SELECT o_orderkey, cls,
         |  CAST(max(CASE WHEN mcls = 0 THEN p_micro END) AS BIGINT) AS p0,
         |  CAST(max(CASE WHEN mcls = 1 THEN p_micro END) AS BIGINT) AS p1,
         |  CAST(max(CASE WHEN mcls = 2 THEN p_micro END) AS BIGINT) AS p2,
         |  CAST(max(CASE WHEN rn = 1 THEN mcls END) AS BIGINT) AS pred
         |FROM ranked GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin
    },

    // Mirrors of the model-selection pair, one generator parameterized
    // by the TVS fold.
    "s40_cross_validation" ->
      gridRidgeCvSql(Seq(0.0, 10.0, 1000.0), None),
    "s41_train_validation_split" ->
      gridRidgeCvSql(Seq(0.0, 10.0, 1000.0), Some(0)),

    // Mirror of the gauntlet: the indexer's (count DESC, label ASC)
    // ranking and min/max fit as CTEs, every transform re-derived per
    // row; minmax/L2 through the shared milli formula strings.
    "s39_feature_transformers" -> {
      import graft.ext.Pipeline.{l2MilliExpr, minMaxMilliExpr}
      s"""WITH base AS MATERIALIZED (
         |  SELECT o_orderkey, o_orderpriority AS prio,
         |         CAST(round(o_totalprice) AS BIGINT) AS price,
         |         CAST(o_custkey % 100 AS BIGINT) AS custf
         |  FROM orders),
         |idx AS (SELECT prio,
         |    CAST(row_number() OVER (ORDER BY count(*) DESC, prio ASC) - 1 AS BIGINT) AS prio_idx
         |  FROM base GROUP BY prio),
         |mm AS (SELECT min(price) AS mn, max(price) AS mx FROM base)
         |SELECT o_orderkey, prio, prio_idx,
         |  CAST(CASE WHEN prio_idx = 0 THEN 1 ELSE 0 END AS BIGINT) AS oh_0,
         |  CAST(CASE WHEN prio_idx = 1 THEN 1 ELSE 0 END AS BIGINT) AS oh_1,
         |  CAST(CASE WHEN prio_idx = 2 THEN 1 ELSE 0 END AS BIGINT) AS oh_2,
         |  CAST(CASE WHEN prio_idx = 3 THEN 1 ELSE 0 END AS BIGINT) AS oh_3,
         |  CAST(CASE WHEN price < 50000 THEN 0 WHEN price < 150000 THEN 1
         |            WHEN price < 300000 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
         |  CAST(CASE WHEN custf > 50 THEN 1 ELSE 0 END AS BIGINT) AS cust_bin,
         |  ${minMaxMilliExpr("price", "mn", "mx")} AS price_mm_milli,
         |  ${l2MilliExpr("price", "price", "custf")} AS nrm_price_milli,
         |  ${l2MilliExpr("custf", "price", "custf")} AS nrm_custf_milli,
         |  CAST(price * 2 AS BIGINT) AS ew_price,
         |  CAST(custf * 3 AS BIGINT) AS ew_custf
         |FROM base JOIN idx USING (prio) CROSS JOIN mm
         |WHERE o_orderkey <= 2000
         |ORDER BY o_orderkey""".stripMargin
    },

    "s21_pca_features" -> {
      import graft.ext.Pipeline.Moments2
      val l1 = Moments2.level1.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
      val c1 = Moments2.level1.map(_._1).mkString(", ")
      val l2 = Moments2.level2.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
      val c2 = (Moments2.level1.map(_._1) ++ Moments2.level2.map(_._1)).mkString(", ")
      val l3 = Moments2.level3.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
      s"""WITH $ordersBaseCte,
         |feats AS MATERIALIZED (SELECT o_orderkey, x1, qty AS x2 FROM base),
         |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |    CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |    CAST(sum(x2 * x2) AS BIGINT) AS s22
         |  FROM feats),
         |p1 AS (SELECT $l1 FROM sums),
         |p2 AS (SELECT $c1, $l2 FROM p1),
         |model AS (SELECT $c2, $l3 FROM p2)
         |SELECT f.o_orderkey,
         |  CAST(round(((CAST(f.x1 AS DOUBLE) - m1) / sd1) * 1000000.0) AS BIGINT) AS z1_micro,
         |  CAST(round(((CAST(f.x2 AS DOUBLE) - m2) / sd2) * 1000000.0) AS BIGINT) AS z2_micro,
         |  CAST(round(((v1 * (CAST(f.x1 AS DOUBLE) - m1)) + (v2 * (CAST(f.x2 AS DOUBLE) - m2))) * 1000000.0) AS BIGINT) AS pc1_micro,
         |  CAST(round((lam1 / (lam1 + lam2)) * 1000000.0) AS BIGINT) AS evr_micro
         |FROM feats f CROSS JOIN model
         |WHERE f.o_orderkey <= 4000 ORDER BY o_orderkey""".stripMargin
    },

    // Mirror of Pca.pcaK: every generated Jacobi layer as a MATERIALIZED
    // 1-row CTE (plain CTEs would re-inline each layer per reference —
    // the p09 exponential lesson), HUGEINT second moments, identical
    // expression text throughout.
    "s97_pca_k" -> graft.ext.Pca.oracleSql(d = 4, k = 2,
      featsCte = s"SELECT ${pcaFeatsSql.mkString(", ")} FROM lineitem"),

    // The s97 CTE chain plus the centered projection scan.
    "s100_pca_project" -> graft.ext.Pca.projectOracleSql(d = 4, k = 2,
      idCol = "rid",
      featsCte = "SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid, " +
        s"${pcaFeatsSql.mkString(", ")} FROM lineitem",
      cohortWhere = "rid <= 40000"),

    // Mirror of Solve.olsK: the generated elimination/back-substitution
    // layers as materialized 1-row CTEs.
    "s103_ols_k" -> graft.ext.Solve.oracleSql(d = 3, idCol = "o_orderkey",
      featsCte = "SELECT f.o_orderkey, f.x1, f.x2, f.x3, " +
        "CAST(round(o.o_totalprice) AS BIGINT) AS y " +
        "FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1, " +
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2, " +
        "CAST(CAST(round(max(l_extendedprice)) AS BIGINT) // 100 AS BIGINT) AS x3 " +
        "FROM lineitem GROUP BY 1) f JOIN orders o USING (o_orderkey)",
      cohortWhere = "o_orderkey <= 4000"),

    // Mirror of Solve.wlsK: item-count-weighted moments, same layers.
    "s108_wls" -> graft.ext.Solve.wlsOracleSql(d = 2, idCol = "o_orderkey",
      weightCol = "w",
      featsCte = "SELECT f.o_orderkey, f.w, f.x1, f.x2, " +
        "CAST(round(o.o_totalprice) AS BIGINT) AS y " +
        "FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS w, " +
        "CAST(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) // count(*) AS BIGINT) AS x1, " +
        "CAST(CAST(round(max(l_extendedprice)) AS BIGINT) // 100 AS BIGINT) AS x2 " +
        "FROM lineitem GROUP BY 1) f JOIN orders o USING (o_orderkey)",
      cohortWhere = "o_orderkey <= 4000"),

    // The s103 oracle with the n*lambda weight-diagonal term.
    "s104_ridge_k" -> graft.ext.Solve.oracleSql(d = 3, idCol = "o_orderkey",
      featsCte = "SELECT f.o_orderkey, f.x1, f.x2, f.x3, " +
        "CAST(round(o.o_totalprice) AS BIGINT) AS y " +
        "FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1, " +
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2, " +
        "CAST(CAST(round(max(l_extendedprice)) AS BIGINT) // 100 AS BIGINT) AS x3 " +
        "FROM lineitem GROUP BY 1) f JOIN orders o USING (o_orderkey)",
      cohortWhere = "o_orderkey <= 4000", lambda = 0.1),

    // The s14 oracle with the ridge-penalized Cramer matrix — the same
    // shared formula strings, lambda literal included.
    "s23_ridge_regression" -> {
      val betaSelect = Learn.ridgeBetaExprs(0.1)
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n    ")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2
         |  FROM lineitem l GROUP BY 1),
         |fy AS MATERIALIZED (
         |  SELECT f.o_orderkey, f.x1, f.x2,
         |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
         |  FROM feats f JOIN orders o USING (o_orderkey)),
         |sums AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |    CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |    CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y
         |  FROM fy),
         |betas AS (SELECT
         |    $betaSelect
         |  FROM sums)
         |SELECT fy.o_orderkey, fy.y AS cents, ${Learn.olsPredExpr} AS predq
         |FROM fy CROSS JOIN betas WHERE fy.o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Apriori-pruned triple mining: frequent-pair occurrences extended by
    // a third pruned item, every 2-subset required frequent (inner joins
    // against the grouped pair table ≡ Spark's left-semi — keys unique).
    "s22_frequent_triples" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |n AS (SELECT count(DISTINCT basket) AS nb FROM b),
        |thr AS (SELECT CAST(ceil(0.004::DOUBLE * nb) AS BIGINT) AS t FROM n),
        |singles AS MATERIALIZED (
        |  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
        |  HAVING count(*) >= (SELECT t FROM thr)),
        |pruned AS MATERIALIZED (SELECT b.basket, b.item FROM b JOIN singles USING (item)),
        |pairs AS MATERIALIZED (
        |  SELECT x.item AS item_a, y.item AS item_b
        |  FROM pruned x JOIN pruned y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)),
        |po AS (SELECT x.basket, x.item AS item_a, y.item AS item_b
        |  FROM pruned x JOIN pruned y ON x.basket = y.basket AND x.item < y.item
        |  JOIN pairs pp ON pp.item_a = x.item AND pp.item_b = y.item),
        |tri AS (
        |  SELECT po.item_a, po.item_b, z.item AS item_c, CAST(count(*) AS BIGINT) AS n_triple
        |  FROM po JOIN pruned z ON z.basket = po.basket AND z.item > po.item_b
        |  JOIN pairs pac ON pac.item_a = po.item_a AND pac.item_b = z.item
        |  JOIN pairs pbc ON pbc.item_a = po.item_b AND pbc.item_b = z.item
        |  GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT t FROM thr))
        |SELECT item_a, item_b, item_c, n_triple,
        |  CAST((n_triple * 1000000) // (SELECT nb FROM n) AS BIGINT) AS support_micro
        |FROM tri ORDER BY item_a, item_b, item_c""".stripMargin,

    // The identical beta/pred formula strings (graft.ext.Learn) over the
    // identical nine sufficient statistics — the mirror IS the plan.
    "s14_linear_regression" -> {
      val betaSelect = Learn.olsBetaExprs
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n    ")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2
         |  FROM lineitem l GROUP BY 1),
         |fy AS MATERIALIZED (
         |  SELECT f.o_orderkey, f.x1, f.x2,
         |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
         |  FROM feats f JOIN orders o USING (o_orderkey)),
         |sums AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |    CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |    CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y
         |  FROM fy),
         |betas AS (SELECT
         |    $betaSelect
         |  FROM sums)
         |SELECT fy.o_orderkey, fy.y AS cents, ${Learn.olsPredExpr} AS predq
         |FROM fy CROSS JOIN betas WHERE fy.o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Apriori-pruned pair mining + rules; the 0.01::DOUBLE threshold
    // matches the Scala side's double ceil exactly (a bare 0.01 would be
    // DECIMAL-exact in DuckDB and ceil one lower on round counts).
    "s16_association_rules" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |n AS (SELECT count(DISTINCT basket) AS nb FROM b),
        |thr AS (SELECT CAST(ceil(0.01::DOUBLE * nb) AS BIGINT) AS t FROM n),
        |singles AS MATERIALIZED (
        |  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
        |  HAVING count(*) >= (SELECT t FROM thr)),
        |pruned AS (SELECT b.basket, b.item FROM b JOIN singles USING (item)),
        |pairs AS MATERIALIZED (
        |  SELECT x.item AS item_a, y.item AS item_b, CAST(count(*) AS BIGINT) AS n_pair
        |  FROM pruned x JOIN pruned y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)),
        |twoway AS (SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM pairs
        |  UNION ALL SELECT item_b, item_a, n_pair FROM pairs),
        |r AS (SELECT antecedent, consequent, n_pair, conf_micro,
        |    CAST((conf_micro * (SELECT nb FROM n)) // cnt_c AS BIGINT) AS lift_micro
        |  FROM (SELECT bo.antecedent, bo.consequent, bo.n_pair, sc.cnt AS cnt_c,
        |          CAST((bo.n_pair * 1000000) // sa.cnt AS BIGINT) AS conf_micro
        |        FROM twoway bo
        |        JOIN singles sa ON sa.item = bo.antecedent
        |        JOIN singles sc ON sc.item = bo.consequent))
        |SELECT antecedent, consequent, n_pair, conf_micro, lift_micro
        |FROM r WHERE conf_micro >= 100000
        |ORDER BY antecedent, consequent""".stripMargin,

    // NB chain: per-label priors/totals, Laplace token likelihoods,
    // micro-nat sums per (doc, label), argmax with smallest-label ties.
    "s15_naive_bayes" ->
      s"""WITH $nbChainCte
         |SELECT doc_id, actual, label AS pred_label, score_q FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // Mirror of Learn.bernoulliNaiveBayes: presence counts, the dense
    // vocab × label grid, the shared present/absent log formula strings,
    // negThetaSum per label, present-word adjustments only.
    "s49_bernoulli_nb" ->
      s"""WITH tr AS MATERIALIZED (
         |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 250),
         |pres AS MATERIALIZED (SELECT DISTINCT tid, label, tok FROM (
         |  SELECT doc_id AS tid, lang AS label,
         |         unnest(string_split(text, ' ')) AS tok FROM tr)),
         |cc AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs FROM tr GROUP BY 1),
         |nn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS nd,
         |              (SELECT CAST(count(*) AS BIGINT) FROM cc) AS nl),
         |ct AS MATERIALIZED (SELECT label, n_docs,
         |    CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(nd + nl AS DOUBLE)) * 1000000.0) AS BIGINT) AS priorq
         |  FROM cc CROSS JOIN nn),
         |dfct AS (SELECT label, tok, CAST(count(*) AS BIGINT) AS dfc FROM pres GROUP BY 1, 2),
         |grid AS MATERIALIZED (
         |  SELECT label, tok, ${Learn.bnbPresentExpr} AS lnpq,
         |         ${Learn.bnbAbsentExpr} AS lnnq FROM (
         |    SELECT c.label, v.tok, c.n_docs, COALESCE(d.dfc, 0) AS dfc
         |    FROM (SELECT DISTINCT tok FROM pres) v CROSS JOIN ct c
         |    LEFT JOIN dfct d ON d.label = c.label AND d.tok = v.tok)),
         |base AS (SELECT label, CAST(sum(lnnq) AS BIGINT) AS baseq FROM grid GROUP BY 1),
         |adj AS (SELECT label, tok, lnpq - lnnq AS adjq FROM grid),
         |dp AS (SELECT DISTINCT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |ts AS MATERIALIZED (
         |  SELECT dp.doc_id, a.label, CAST(sum(a.adjq) AS BIGINT) AS adj_sum
         |  FROM dp JOIN adj a USING (tok) GROUP BY 1, 2),
         |sc AS (SELECT d.doc_id, d.lang AS actual, c.label,
         |    c.priorq + b.baseq + COALESCE(t.adj_sum, 0) AS score_q
         |  FROM documents d CROSS JOIN ct c JOIN base b ON b.label = c.label
         |  LEFT JOIN ts t ON t.doc_id = d.doc_id AND t.label = c.label),
         |r AS (SELECT doc_id, actual, label, score_q,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, label) AS rn
         |  FROM sc)
         |SELECT doc_id, actual, label AS pred_label, CAST(score_q AS BIGINT) AS score_q
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Per-user (A, C) bound pairs joined against raw middle events —
    // DISTINCT per-user triples, the same ceil threshold discipline.
    "s55_frequent_triples_seq" ->
      """WITH fe AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS item, ts
        |  FROM events WHERE value > 150),
        |stats AS MATERIALIZED (
        |  SELECT u, item, min(ts) AS tmin, max(ts) AS tmax FROM fe GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu FROM stats),
        |thr AS (SELECT CAST(ceil(0.05::DOUBLE * nu) AS BIGINT) AS t FROM n),
        |pairs AS (
        |  SELECT a.u, a.item AS t1, a.tmin, c.item AS t3, c.tmax
        |  FROM stats a JOIN stats c ON a.u = c.u
        |    AND a.item <> c.item AND a.tmin < c.tmax),
        |trip AS (
        |  SELECT DISTINCT p.u, p.t1, e.item AS t2, p.t3
        |  FROM fe e JOIN pairs p ON e.u = p.u
        |    AND e.item <> p.t1 AND e.item <> p.t3
        |    AND e.ts > p.tmin AND e.ts < p.tmax),
        |freq AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_users
        |  FROM trip GROUP BY 1, 2, 3
        |  HAVING count(*) >= (SELECT t FROM thr))
        |SELECT t1, t2, t3, n_users,
        |  CAST((n_users * 1000000) // (SELECT nu FROM n) AS BIGINT) AS support_micro
        |FROM freq ORDER BY t1, t2, t3""".stripMargin,

    // Per-user per-type time bounds, pattern exists iff min(a) < max(b);
    // 0.12::DOUBLE matches the Scala double-ceil threshold exactly.
    "s18_frequent_sequences" ->
      """WITH stats AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS item, min(ts) AS tmin, max(ts) AS tmax
        |  FROM events WHERE value > 150 GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT u) AS nu FROM stats),
        |thr AS (SELECT CAST(ceil(0.12::DOUBLE * nu) AS BIGINT) AS t FROM n),
        |pat AS (
        |  SELECT a.item AS antecedent, b.item AS consequent,
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM stats a JOIN stats b ON a.u = b.u
        |    AND a.item <> b.item AND a.tmin < b.tmax
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr))
        |SELECT antecedent, consequent, n_users,
        |  CAST((n_users * 1000000) // (SELECT nu FROM n) AS BIGINT) AS support_micro
        |FROM pat ORDER BY antecedent, consequent""".stripMargin,

    // The same NB chain restricted to the held-out half, then the
    // MulticlassMetrics count algebra — integer micro-unit divisions.
    "s17_multiclass_metrics" ->
      s"""WITH $nbChainCte,
         |predh AS MATERIALIZED (
         |  SELECT doc_id, actual, label AS pred FROM r WHERE rn = 1 AND doc_id >= 250),
         |counts AS MATERIALIZED (
         |  SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM predh GROUP BY 1, 2),
         |tp AS (SELECT actual AS label, n AS tp FROM counts WHERE actual = pred),
         |pt AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS n_pred FROM counts GROUP BY 1),
         |at AS (SELECT actual AS label, CAST(sum(n) AS BIGINT) AS n_actual FROM counts GROUP BY 1),
         |base AS (
         |  SELECT COALESCE(at.label, pt.label) AS label,
         |    COALESCE(tp.tp, 0) AS tp,
         |    COALESCE(pt.n_pred, 0) AS n_pred,
         |    COALESCE(at.n_actual, 0) AS n_actual
         |  FROM at FULL OUTER JOIN pt ON at.label = pt.label
         |  LEFT JOIN tp ON tp.label = COALESCE(at.label, pt.label)),
         |m AS (
         |  SELECT label, tp, n_pred, n_actual,
         |    CASE WHEN n_pred = 0 THEN 0 ELSE CAST((tp * 1000000) // n_pred AS BIGINT) END AS precision_micro,
         |    CASE WHEN n_actual = 0 THEN 0 ELSE CAST((tp * 1000000) // n_actual AS BIGINT) END AS recall_micro
         |  FROM base)
         |SELECT label, tp, n_pred, n_actual, precision_micro, recall_micro,
         |  CASE WHEN precision_micro + recall_micro = 0 THEN 0
         |       ELSE CAST((2 * precision_micro * recall_micro) // (precision_micro + recall_micro) AS BIGINT) END AS f1_micro
         |FROM m ORDER BY label""".stripMargin,

    // The s17 confusion algebra, then the label-count-weighted blend:
    // per-label micro metrics floored first (the declared convention),
    // weighted sums exact integers, one output row.
    "s93_multiclass_weighted" ->
      s"""WITH $nbChainCte,
         |predh AS MATERIALIZED (
         |  SELECT doc_id, actual, label AS pred FROM r WHERE rn = 1 AND doc_id >= 250),
         |counts AS MATERIALIZED (
         |  SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM predh GROUP BY 1, 2),
         |tp AS (SELECT actual AS label, n AS tp FROM counts WHERE actual = pred),
         |pt AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS n_pred FROM counts GROUP BY 1),
         |at AS (SELECT actual AS label, CAST(sum(n) AS BIGINT) AS n_actual FROM counts GROUP BY 1),
         |base AS (
         |  SELECT COALESCE(at.label, pt.label) AS label,
         |    COALESCE(tp.tp, 0) AS tp,
         |    COALESCE(pt.n_pred, 0) AS n_pred,
         |    COALESCE(at.n_actual, 0) AS n_actual
         |  FROM at FULL OUTER JOIN pt ON at.label = pt.label
         |  LEFT JOIN tp ON tp.label = COALESCE(at.label, pt.label)),
         |m AS (
         |  SELECT label, tp, n_pred, n_actual,
         |    CASE WHEN n_pred = 0 THEN 0 ELSE CAST((tp * 1000000) // n_pred AS BIGINT) END AS precision_micro,
         |    CASE WHEN n_actual = 0 THEN 0 ELSE CAST((tp * 1000000) // n_actual AS BIGINT) END AS recall_micro
         |  FROM base),
         |f AS (SELECT *,
         |    CASE WHEN precision_micro + recall_micro = 0 THEN 0
         |         ELSE CAST((2 * precision_micro * recall_micro) // (precision_micro + recall_micro) AS BIGINT) END AS f1_micro
         |  FROM m),
         |tot AS (SELECT CAST(sum(n_actual) AS BIGINT) AS nn, CAST(sum(tp) AS BIGINT) AS stp FROM f),
         |wf AS (SELECT *,
         |    CASE WHEN nn - n_actual = 0 THEN 0
         |         ELSE CAST(((n_pred - tp) * 1000000) // (nn - n_actual) AS BIGINT) END AS fpr_micro
         |  FROM f CROSS JOIN tot)
         |SELECT CAST(max(nn) AS BIGINT) AS n,
         |  CAST((max(stp) * 1000000) // max(nn) AS BIGINT) AS accuracy_micro,
         |  CAST(CAST(sum(n_actual * precision_micro) AS BIGINT) // max(nn) AS BIGINT) AS weighted_precision_micro,
         |  CAST(CAST(sum(n_actual * recall_micro) AS BIGINT) // max(nn) AS BIGINT) AS weighted_recall_micro,
         |  CAST(CAST(sum(n_actual * f1_micro) AS BIGINT) // max(nn) AS BIGINT) AS weighted_f1_micro,
         |  CAST(CAST(sum(n_actual * fpr_micro) AS BIGINT) // max(nn) AS BIGINT) AS weighted_fpr_micro
         |FROM wf""".stripMargin,

    // Two unrolled SVD++ gradient iterations over the s12 ratings table:
    // exact-integer sums everywhere, the one double expression per update
    // repeated with Recommend.svdpp's parenthesization.
    "s13_svdpp" ->
      s"""WITH $ratingsCte,
         |m AS (SELECT CAST(sum(r) AS BIGINT)::DOUBLE / count(*) AS mu FROM ratings),
         |u0 AS MATERIALIZED (
         |  SELECT u,
         |    CAST(((u % 7) + 1) * 8192 AS BIGINT) AS p1q,
         |    CAST(((u % 5) + 1) * 8192 AS BIGINT) AS p2q,
         |    0::BIGINT AS z1q, 0::BIGINT AS z2q,
         |    CAST(round(((srl::DOUBLE / degl) - m.mu) * 65536.0::DOUBLE) AS BIGINT) AS buq,
         |    (1.0::DOUBLE / sqrt(degl::DOUBLE)) AS nsq
         |  FROM (SELECT u, count(*) AS degl, CAST(sum(r) AS BIGINT) AS srl
         |        FROM ratings GROUP BY u) CROSS JOIN m),
         |i0 AS MATERIALIZED (
         |  SELECT i,
         |    CAST(((i % 7) + 1) * 8192 AS BIGINT) AS q1q,
         |    CAST(((i % 5) + 1) * 8192 AS BIGINT) AS q2q,
         |    CAST(((i % 3) + 1) * 8192 AS BIGINT) AS y1q,
         |    CAST(((i % 11) + 1) * 4096 AS BIGINT) AS y2q,
         |    CAST(round(((srl::DOUBLE / degl) - m.mu) * 65536.0::DOUBLE) AS BIGINT) AS biq
         |  FROM (SELECT i, count(*) AS degl, CAST(sum(r) AS BIGINT) AS srl
         |        FROM ratings GROUP BY i) CROSS JOIN m),
         |${svdppIterCte(1)},
         |${svdppIterCte(2)}
         |SELECT i, q1q, q2q, y1q, y2q, biq FROM i2 ORDER BY i""".stripMargin,

    // The full ALS chain unrolled: ratings -> deterministic item init ->
    // user/item/user/item solves (the shared rank-2 layer text) ->
    // exact-integer scoring of the cohort's
    // unrated pairs -> per-user argmax (score DESC, item ASC).
    "s12_als_recommend" ->
      s"""WITH ${alsChainCtes(ratingsCte, 2, alsSolveCteK(_, _, _, _, 2))},
         |cand AS (
         |  SELECT x.u, y.i,
         |    CAST(x.f1q * y.f1q + x.f2q * y.f2q AS BIGINT) AS score_q
         |  FROM x2 x CROSS JOIN y2 y
         |  WHERE x.u <= 300
         |    AND NOT EXISTS (SELECT 1 FROM ratings r WHERE r.u = x.u AND r.i = y.i)),
         |ranked AS (SELECT u, i, score_q,
         |    row_number() OVER (PARTITION BY u ORDER BY score_q DESC, i) AS rn
         |  FROM cand)
         |SELECT u, i AS rec_item, score_q FROM ranked WHERE rn = 1 ORDER BY u""".stripMargin,

    // The same four unrolled ALS half-steps as s12; all items scored
    // per cohort user (no rated-pair exclusion — the recommendProducts
    // contract), top-3 per user.
    "s64_recommend_for_all" ->
      s"""WITH ${alsChainCtes(ratingsCte, 2, alsSolveCteK(_, _, _, _, 2))},
         |cand AS (
         |  SELECT x.u, y.i,
         |    CAST(x.f1q * y.f1q + x.f2q * y.f2q AS BIGINT) AS score_q
         |  FROM x2 x CROSS JOIN y2 y
         |  WHERE x.u <= 300),
         |ranked AS (SELECT u, i, score_q,
         |    row_number() OVER (PARTITION BY u ORDER BY score_q DESC, i) AS rn
         |  FROM cand)
         |SELECT u, CAST(rn AS BIGINT) AS rnk, i AS rec_item, score_q
         |FROM ranked WHERE rn <= 3 ORDER BY u, rnk""".stripMargin,

    // Four unrolled NONNEGATIVE half-steps over the planted-model
    // ratings: each step the shared five sums, the Cramer doubles, and
    // the rank-2 NNLS enumeration CASE verbatim.
    "s89_nonneg_als" ->
      s"""WITH ${alsChainCtes(plantedRatingsCte, 2, alsNonnegSolveCte)}
         |SELECT i, f1q, f2q FROM y2 ORDER BY i""".stripMargin,

    // Four unrolled rank-3 IMPLICIT half-steps: per step a fresh 1-row
    // Gramian, the confidence sums, and the shared layer text.
    "s114_als_implicit_rank" ->
      s"""WITH ${alsChainCtes(ratingsCte, 3, alsImplicitSolveCteK(_, _, _, _, 3, 40L))}
         |SELECT i, f1q, f2q, f3q FROM y2 ORDER BY i""".stripMargin,

    // Four unrolled rank-3 half-steps, each the shared generated
    // init → elimination → back-substitution → quantize layer text
    // evaluated per solve key.
    "s109_als_rank" ->
      s"""WITH ${alsChainCtes(ratingsCte, 3, alsSolveCteK(_, _, _, _, 3))}
         |SELECT i, f1q, f2q, f3q FROM y2 ORDER BY i""".stripMargin,

    // Four unrolled rank-2 implicit half-steps: per step a fresh 1-row
    // YᵀY Gramian over the other side, the per-key confidence sums, and
    // the shared layer text.
    "s47_implicit_als" ->
      s"""WITH ${alsChainCtes(ratingsCte, 2, alsImplicitSolveCteK(_, _, _, _, 2, 40L))}
         |SELECT i, f1q, f2q FROM y2 ORDER BY i""".stripMargin,
    // Unrolls the same pipeline: train-slice df counts -> smoothed
    // reciprocal idf -> whole-corpus tf -> rescale -> L2 -> argmax (first
    // index on ties, like array_position). COALESCE(toks, []) pins the
    // NULL-text parity: Spark's explode drops the row -> zero tf vector,
    // so the oracle must produce zeros too, not NULL-poisoned lists.
    "s10_ml_pipeline" ->
      s"""WITH tokall AS (
         |  SELECT doc_id,
         |    COALESCE(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0),
         |             []) toks
         |  FROM documents),
         |idxall AS (
         |  SELECT doc_id, list_transform(toks,
         |    t -> (ord(t[1]) * 97 + ord(t[len(t)]) * 31
         |          + ord(t[(len(t) + 1) // 2]) * 13 + len(t) * 7) % $NumFeatures) idxs
         |  FROM tokall),
         |dfreq AS (
         |  SELECT j, count(*) dfn FROM (
         |    SELECT DISTINCT doc_id, unnest(idxs) j FROM idxall WHERE doc_id < 250)
         |  GROUP BY j),
         |ntrain AS (SELECT count(*) n FROM documents WHERE doc_id < 250),
         |idf AS (
         |  SELECT list((ntrain.n + 1)::DOUBLE / (COALESCE(d.dfn, 0) + 1)
         |    ORDER BY jj.j) ws
         |  FROM range(0, $NumFeatures) jj(j)
         |  LEFT JOIN dfreq d ON d.j = jj.j CROSS JOIN ntrain),
         |tf AS (
         |  SELECT doc_id, list_transform(range(0, $NumFeatures),
         |    j -> len(list_filter(idxs, x -> x = j))::DOUBLE) v
         |  FROM idxall),
         |tv AS (
         |  SELECT doc_id, v,
         |    list_transform(range(1, $NumFeatures + 1), j -> v[j] * idf.ws[j]) w
         |  FROM tf, idf),
         |nv AS (
         |  SELECT doc_id, v,
         |    list_transform(w, x -> CASE WHEN nr = 0.0 THEN 0.0 ELSE x / nr END) nv
         |  FROM (SELECT doc_id, v, w,
         |          sqrt(list_sum(list_transform(w, x -> x * x))) nr FROM tv))
         |SELECT doc_id,
         |  CAST(list_position(nv, list_max(nv)) - 1 AS BIGINT) AS top_feature,
         |  round(list_max(nv), 6) AS top_weight,
         |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_active
         |FROM nv ORDER BY doc_id""".stripMargin
  )
}
