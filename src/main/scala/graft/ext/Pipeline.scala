package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib Pipeline thin-slice (reference mllib/src/main/scala/org/apache/
  * spark/ml/Pipeline.scala:25 — a Pipeline IS an Estimator[PipelineModel]
  * whose fit() walks the stages, transforming the running frame and
  * fitting each Estimator on it; Transformer.scala:35 / Estimator.scala:37
  * define the abstract pair). Same contract re-expressed over plain
  * DataFrames: fit and transform are SEPARATE, the fitted model is a
  * reusable Transformer chain, and a model fitted on one frame transforms
  * any other frame with the SAME learned parameters (the train/apply split
  * a production curation pipeline needs).
  *
  * Everything a stage computes is a Catalyst expression (HOFs over token /
  * feature arrays — codegen'd, no UDFs); the only driver-side state is the
  * fitted parameter vector itself (numFeatures doubles), which is the
  * definition of a fitted model, not a scale concern.
  */
object Pipeline {

  /** Reference ml/PipelineStage (Pipeline.scala:35). */
  sealed trait PipelineStage extends Serializable

  /** Reference ml/Transformer.scala:35 — DataFrame in, DataFrame out. */
  trait Transformer extends PipelineStage {
    def transform(df: DataFrame): DataFrame
  }

  /** Reference ml/Estimator.scala:37 — learns a Transformer from data. */
  trait Estimator extends PipelineStage {
    def fit(df: DataFrame): Transformer
  }

  /** Reference ml/Pipeline.scala:96 fit(): each Transformer stage
    * transforms the running frame; each Estimator stage is fitted ON the
    * running frame and its model then transforms it — so a downstream
    * estimator sees upstream features exactly as the final model will
    * produce them. */
  final class Chain(stages: Seq[PipelineStage]) extends Estimator {
    def fit(df: DataFrame): Model = {
      var cur = df
      val fitted = stages.map {
        case t: Transformer => cur = t.transform(cur); t
        case e: Estimator   => val m = e.fit(cur); cur = m.transform(cur); m
      }
      new Model(fitted)
    }
  }

  /** Reference ml/PipelineModel (Pipeline.scala:163): the fitted,
    * reusable artifact — a pure Transformer chain. */
  final class Model(val stages: Seq[Transformer]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      stages.foldLeft(df)((d, t) => t.transform(d))

    /** Persist the fitted model (reference ml/util/MLWritable — 1.6's
      * Pipeline/PipelineModel are saveable artifacts) as ONE parquet table
      * of stage parameter rows: (ordinal, kind, cols, numFeatures, idCol,
      * weights). Parquet rather than JSON text so the fitted IDF weights
      * round-trip BIT-EXACT — a decimal-printed double can lose the last
      * ulp, and the s10 oracle equality is exact, not approximate. The
      * write installs via [[IndexStore.atomically]], so a concurrent
      * load sees the previous complete artifact or the new one, never a
      * torn one. */
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      val rows = stages.zipWithIndex.map {
        case (Tokenizer(in, out), i) =>
          (i, "tokenizer", in, out, None: Option[Int], None: Option[String],
            None: Option[Seq[Double]], None: Option[Seq[String]])
        case (HashingTF(in, out, nf, id), i) =>
          (i, "hashing_tf", in, out, Some(nf), Some(id), None, None)
        case (IdfModel(in, out, ws), i) =>
          (i, "idf_model", in, out, None, None, Some(ws), None)
        case (L2Normalizer(in, out), i) =>
          (i, "l2_normalizer", in, out, None, None, None, None)
        // two-column numeric stages: cols packed comma-separated, fitted
        // doubles in `weights` (parquet doubles round-trip bit-exact —
        // the scaladoc above is exactly why these are not JSON text)
        case (StandardScaler2Model(i1, i2, o1, o2, m1, sd1, m2, sd2), i) =>
          (i, "std_scaler2", s"$i1,$i2", s"$o1,$o2", None, None,
            Some(Seq(m1, sd1, m2, sd2)), None)
        case (Pca2Model(i1, i2, oPc, oEvr, m1, m2, v1, v2, l1, l2), i) =>
          (i, "pca2", s"$i1,$i2", s"$oPc,$oEvr", None, None,
            Some(Seq(m1, m2, v1, v2, l1, l2)), None)
        // string-array stages land in `labels` (same bit-exactness
        // argument: parquet strings round-trip verbatim)
        case (CountVectorizerModel(in, out, vocab, id), i) =>
          (i, "count_vectorizer", in, out, None, Some(id), None, Some(vocab))
        case (StringIndexerModel(in, out, labels), i) =>
          (i, "string_indexer", in, out, None, None, None, Some(labels))
        case (IndexToStringStage(in, out, labels), i) =>
          (i, "index_to_string", in, out, None, None, None, Some(labels))
        case (NGramStage(in, out, n), i) =>
          (i, "ngram", in, out, Some(n), None, None, None)
        case (VectorAssemblerStage(cols, out), i) =>
          (i, "vector_assembler", cols.mkString(","), out, None, None, None, None)
        case (VectorSlicerStage(in, out, idx), i) =>
          (i, "vector_slicer", in, out, None, None,
            Some(idx.map(_.toDouble)), None)
        case (SQLTransformerStage(stmt), i) =>
          (i, "sql_transformer", stmt, "", None, None, None, None)
        // per-feature category maps packed "col|v0,v1,..." one label per
        // categorical feature; continuous features are absent (exactly
        // the fitted state)
        case (VectorIndexerModel(cols, maps), i) =>
          (i, "vector_indexer", cols.mkString(","), "", None, None, None,
            Some(cols.flatMap(c =>
              maps.get(c).map(vs => s"$c|${vs.mkString(",")}"))))
        case (other, i) => throw new IllegalArgumentException(
          s"stage $i (${other.getClass.getName}) has no persistence mapping")
      }.toDF("ordinal", "kind", "input_col", "output_col",
        "num_features", "id_col", "weights", "labels")
      IndexStore.atomically(spark, path) { tmp =>
        rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      }
    }
  }

  object Model {
    /** Rebuild a fitted model from [[Model.save]]'s artifact — the
      * train-once / apply-anywhere half of the persistence contract. The
      * collect is bounded by the stage count (a handful of rows). */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
      val stages = spark.read.parquet(path).orderBy("ordinal").collect().map { r =>
        val (in, out) = (r.getAs[String]("input_col"), r.getAs[String]("output_col"))
        r.getAs[String]("kind") match {
          case "tokenizer"     => Tokenizer(in, out)
          case "hashing_tf"    => HashingTF(in, out,
            r.getAs[Int]("num_features"), r.getAs[String]("id_col"))
          case "idf_model"     =>
            IdfModel(in, out, r.getSeq[Double](r.fieldIndex("weights")).toIndexedSeq)
          case "l2_normalizer" => L2Normalizer(in, out)
          case "std_scaler2"   =>
            val Array(i1, i2) = in.split(","); val Array(o1, o2) = out.split(",")
            val w = r.getSeq[Double](r.fieldIndex("weights"))
            StandardScaler2Model(i1, i2, o1, o2, w(0), w(1), w(2), w(3))
          case "pca2"          =>
            val Array(i1, i2) = in.split(","); val Array(oPc, oEvr) = out.split(",")
            val w = r.getSeq[Double](r.fieldIndex("weights"))
            Pca2Model(i1, i2, oPc, oEvr, w(0), w(1), w(2), w(3), w(4), w(5))
          case "count_vectorizer" => CountVectorizerModel(in, out,
            r.getSeq[String](r.fieldIndex("labels")).toIndexedSeq,
            r.getAs[String]("id_col"))
          case "string_indexer"   => StringIndexerModel(in, out,
            r.getSeq[String](r.fieldIndex("labels")).toIndexedSeq)
          case "index_to_string"  => IndexToStringStage(in, out,
            r.getSeq[String](r.fieldIndex("labels")).toIndexedSeq)
          case "ngram"            => NGramStage(in, out, r.getAs[Int]("num_features"))
          case "vector_assembler" => VectorAssemblerStage(in.split(",").toSeq, out)
          case "vector_slicer"    => VectorSlicerStage(in, out,
            r.getSeq[Double](r.fieldIndex("weights")).map(_.toInt).toIndexedSeq)
          case "sql_transformer"  => SQLTransformerStage(in)
          case "vector_indexer"   => VectorIndexerModel(in.split(",").toSeq,
            r.getSeq[String](r.fieldIndex("labels")).map { packed =>
              val Array(c, vs) = packed.split("\\|", 2)
              c -> (if (vs.isEmpty) Seq.empty[Long]
                    else vs.split(",").map(_.toLong).toSeq)
            }.toMap)
          case k => throw new IllegalArgumentException(s"unknown stage kind '$k' in $path")
        }
      }
      new Model(stages.toSeq)
    }
  }

  /** Whitespace regex tokenizer (reference ml/feature/RegexTokenizer) —
    * split + drop empties, one codegen'd projection. */
  final case class Tokenizer(inputCol: String, outputCol: String) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        expr(s"filter(split($inputCol, '\\\\s+'), t -> length(t) > 0)"))
  }

  /** Feature hasher + term-frequency vector (reference ml/feature/
    * HashingTF): token -> bucket by a weighted (first, middle, last,
    * length) codepoint mix mod `numFeatures` — deliberately NOT murmur3
    * (the reference's hash), so the DuckDB oracle can compute the
    * identical bucket with portable SQL; the pipeline mechanics
    * (fixed-width indexing by hash, collisions folded into the same
    * bucket) are the same. Output: dense array<double> of counts, length
    * `numFeatures`.
    *
    * Execution shape: explode tokens -> codegen'd scalar hash -> two-level
    * hash aggregate (per (id, bucket) count with map-side combine, then
    * per-id map assembly) -> left join back. Two shuffles, but every
    * per-token op is whole-stage codegen and the work is spread across
    * partitions. The obvious per-ROW formulation (HOF lambdas over the
    * token array) keeps the plan shuffle-free but runs INTERPRETED on
    * however many partitions the source file has — a single-file corpus
    * put the entire pipeline on one core (measured 27 s at sf0.1, vs
    * ~2 s this shape). Requires `idCol` to join the counts back — the
    * grouping key a distributed TF needs anyway — and `idCol` values MUST
    * be unique: two rows sharing an id would each silently receive the
    * MERGED count vector of both token arrays (the join fans the grouped
    * counts back out). Dedup upstream if ids can repeat; the check is not
    * done here because it would cost the very shuffle this stage already
    * pays once. Rows with no tokens get the zero vector. */
  final case class HashingTF(inputCol: String, outputCol: String,
                             numFeatures: Int,
                             idCol: String = "doc_id") extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      val bucket = "(ascii(substring(__t, 1, 1)) * 97L + " +
        "ascii(substring(__t, length(__t), 1)) * 31L + " +
        "ascii(substring(__t, (length(__t) + 1) div 2, 1)) * 13L + " +
        s"length(__t) * 7L) % $numFeatures"
      val counts = df
        .select(col(idCol), explode(col(inputCol)).as("__t"))
        .select(col(idCol), expr(bucket).as("__j"))
        .groupBy(idCol, "__j").agg(count(lit(1)).as("__c"))
        .groupBy(idCol)
        .agg(map_from_entries(collect_list(struct(col("__j"), col("__c")))).as("__m"))
      df.join(counts, Seq(idCol), "left")
        .withColumn(outputCol,
          expr(s"transform(sequence(0, ${numFeatures - 1}), " +
            "j -> CAST(coalesce(element_at(__m, CAST(j AS BIGINT)), 0L) AS DOUBLE))"))
        .drop("__m")
    }
  }

  /** Inverse-document-frequency ESTIMATOR (reference ml/feature/IDF.scala:
    * fit counts per-feature document frequency, the model rescales tf).
    * Weight j = (N + 1) / (df_j + 1) — the smoothed reciprocal frequency
    * WITHOUT the reference's log damping: every arithmetic op here
    * (integer ratio, multiply) is exactly rounded in IEEE-754, so the
    * fitted weights and the rescaled vectors are bit-identical across
    * engines and the oracle equality is exact rather than
    * last-ulp-of-libm-log lucky. The log is a monotone per-feature
    * reparameterization a production tuning pass would re-add.
    *
    * fit() runs ONE distributed pass (posexplode + count per feature) and
    * collects exactly `numFeatures` rows — the fitted parameter vector,
    * bounded by construction. */
  final case class InverseDocFreq(inputCol: String, outputCol: String,
                                  numFeatures: Int) extends Estimator {
    def fit(df: DataFrame): IdfModel = {
      val n = df.count()
      val dfreq = df
        .select(posexplode(col(inputCol)).as(Seq("j", "x")))
        .filter(col("x") > 0)
        .groupBy("j").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      IdfModel(inputCol, outputCol,
        (0 until numFeatures).map(j => (n + 1).toDouble / (dfreq.getOrElse(j, 0L) + 1).toDouble))
    }
  }

  /** The fitted IDF artifact: its weights are data, inspectable and
    * reusable on any frame with the same feature width. */
  final case class IdfModel(inputCol: String, outputCol: String,
                            weights: Seq[Double]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        zip_with(col(inputCol), array(weights.map(lit): _*), (x, w) => x * w))
  }

  /** L2 normalizer (reference ml/feature/Normalizer, p = 2): zero vectors
    * stay zero (no NaN). */
  final case class L2Normalizer(inputCol: String, outputCol: String) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn("__nrm",
        expr(s"sqrt(aggregate($inputCol, 0.0D, (a, x) -> a + x * x))"))
        .withColumn(outputCol,
          expr(s"transform($inputCol, x -> CASE WHEN __nrm = 0.0 THEN 0.0 ELSE x / __nrm END)"))
        .drop("__nrm")
  }

  /** Shared moment/eigen formula strings for the 2-feature numeric stages
    * ([[StandardScaler2]], [[Pca2]]) and their DuckDB oracle mirror. All
    * derived parameters are functions of the SIX exact integer sufficient
    * statistics (n, s1, s2, s11, s12, s22) of one scan — the s14 OLS
    * pattern: exact integer sums in, fixed-parenthesization double
    * expressions out, so both engines land on bit-identical doubles
    * (division and sqrt are correctly-rounded IEEE ops). Three dependency
    * levels (means/covariance -> stds/eigenvalues -> eigenvector), each a
    * (name, expression) list consumed as a chained projection on the
    * Spark side and a chained CTE on the oracle side. */
  object Moments2 {
    private def d(c: String) = s"CAST($c AS DOUBLE)"
    /** Means + population covariance entries from the integer sums. */
    val level1: Seq[(String, String)] = {
      def cov(sab: String, sa: String, sb: String) =
        s"(((${d("n")} * ${d(sab)}) - (${d(sa)} * ${d(sb)})) / (${d("n")} * ${d("n")}))"
      Seq(
        "m1" -> s"(${d("s1")} / ${d("n")})",
        "m2" -> s"(${d("s2")} / ${d("n")})",
        "va" -> cov("s11", "s1", "s1"),
        "vb" -> cov("s12", "s1", "s2"),
        "vc" -> cov("s22", "s2", "s2"))
    }
    /** Stds + closed-form 2x2 eigenvalues. */
    val level2: Seq[(String, String)] = Seq(
      "sd1" -> "sqrt(va)",
      "sd2" -> "sqrt(vc)",
      "lam1" -> "(((va + vc) / 2.0) + sqrt((((va - vc) / 2.0) * ((va - vc) / 2.0)) + (vb * vb)))",
      "lam2" -> "(((va + vc) / 2.0) - sqrt((((va - vc) / 2.0) * ((va - vc) / 2.0)) + (vb * vb)))")
    /** Principal eigenvector (v1, v2): (b, λ1 − a) normalized; a diagonal
      * covariance (b = 0) takes the dominant axis directly. λ1 − a >= 0
      * by construction, so the second component never flips sign — the
      * deterministic orientation convention the oracle repeats. */
    val level3: Seq[(String, String)] = Seq(
      "v1" -> ("(CASE WHEN vb = 0.0 THEN (CASE WHEN va >= vc THEN 1.0 ELSE 0.0 END)" +
        " ELSE vb / sqrt((vb * vb) + ((lam1 - va) * (lam1 - va))) END)"),
      "v2" -> ("(CASE WHEN vb = 0.0 THEN (CASE WHEN va >= vc THEN 0.0 ELSE 1.0 END)" +
        " ELSE (lam1 - va) / sqrt((vb * vb) + ((lam1 - va) * (lam1 - va))) END)"))

    /** The one aggregation scan: six exact integer sums over (in1, in2). */
    def sums(df: DataFrame, in1: String, in2: String): DataFrame =
      df.agg(
        count(lit(1)).as("n"),
        sum(in1).as("s1"), sum(in2).as("s2"),
        sum(col(in1) * col(in1)).as("s11"),
        sum(col(in1) * col(in2)).as("s12"),
        sum(col(in2) * col(in2)).as("s22"))

    /** All nine derived parameters as one collected row:
      * (m1, m2, va, vb, vc, sd1, sd2, lam1, lam2, v1, v2). */
    def fitParams(df: DataFrame, in1: String, in2: String): Map[String, Double] = {
      val carry1 = level1.map(_._1)
      val carry2 = carry1 ++ level2.map(_._1)
      val p = sums(df, in1, in2)
        .selectExpr(level1.map { case (n, e) => s"$e AS $n" }: _*)
        .selectExpr(carry1 ++ level2.map { case (n, e) => s"$e AS $n" }: _*)
        .selectExpr(carry2 ++ level3.map { case (n, e) => s"$e AS $n" }: _*)
      val row = p.head()
      p.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.getDouble(i) }.toMap
    }
  }

  /** StandardScaler ESTIMATOR (reference mllib/src/main/scala/org/apache/
    * spark/mllib/feature/StandardScaler.scala:55 — fit learns per-feature
    * mean/std, the model rescales; withMean and withStd both on). Two
    * BIGINT input features, micro-quantized z-scores out. Fit is ONE
    * aggregation scan of exact integer sums ([[Moments2]]); the fitted
    * (mean, std) doubles are engine-reproducible by construction. */
  final case class StandardScaler2(in1: String, in2: String,
                                   out1: String, out2: String) extends Estimator {
    def fit(df: DataFrame): StandardScaler2Model = {
      val p = Moments2.fitParams(df, in1, in2)
      StandardScaler2Model(in1, in2, out1, out2,
        p("m1"), p("sd1"), p("m2"), p("sd2"))
    }
  }

  /** The fitted scaler: z_j = (x_j − m_j) / sd_j, quantized to exact
    * integer micro-units (the oracle repeats the parenthesization with
    * the same doubles recomputed from the same sums). Requires
    * non-degenerate features (sd > 0) — the standard scaler
    * precondition. */
  final case class StandardScaler2Model(in1: String, in2: String,
                                        out1: String, out2: String,
                                        m1: Double, sd1: Double,
                                        m2: Double, sd2: Double) extends Transformer {
    private def z(in: String, m: Double, sd: Double) =
      round(((col(in).cast("double") - lit(m)) / lit(sd)) * lit(1000000.0)).cast("long")
    def transform(df: DataFrame): DataFrame =
      df.withColumn(out1, z(in1, m1, sd1)).withColumn(out2, z(in2, m2, sd2))
  }

  /** 2-feature PCA ESTIMATOR (reference mllib/src/main/scala/org/apache/
    * spark/mllib/feature/PCA.scala:44 fits principal components from the
    * covariance via SVD; at 2 features the eigen-solve is CLOSED FORM —
    * λ = (a+c)/2 ± sqrt(((a−c)/2)² + b²), v ∝ (b, λ1−a) — so the fit is
    * one exact-integer-sum scan + a fixed double expression chain, no
    * LAPACK, no iteration, and the oracle replays it verbatim). Centering
    * is built in (projection of x − mean), like the reference's fit over
    * a centered RowMatrix. */
  final case class Pca2(in1: String, in2: String,
                        outPc: String, outEvr: String) extends Estimator {
    def fit(df: DataFrame): Pca2Model = {
      val p = Moments2.fitParams(df, in1, in2)
      Pca2Model(in1, in2, outPc, outEvr,
        p("m1"), p("m2"), p("v1"), p("v2"), p("lam1"), p("lam2"))
    }
  }

  /** The fitted 2-feature PCA: pc1 = v · (x − m) micro-quantized, plus
    * the explained-variance ratio λ1/(λ1+λ2) in micro-units (constant
    * per fit — emitted per row so the eigenvalues are oracle-gated). */
  final case class Pca2Model(in1: String, in2: String,
                             outPc: String, outEvr: String,
                             m1: Double, m2: Double,
                             v1: Double, v2: Double,
                             lam1: Double, lam2: Double) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outPc,
          round(((lit(v1) * (col(in1).cast("double") - lit(m1)))
            + (lit(v2) * (col(in2).cast("double") - lit(m2)))) * lit(1000000.0)).cast("long"))
        .withColumn(outEvr,
          round((lit(lam1) / (lit(lam1) + lit(lam2))) * lit(1000000.0)).cast("long"))
  }

  // ---- the feature-transformer gauntlet (reference ml/feature/*, the
  // s39 slice; these stages are query-backed, not wired into Model.save —
  // their fitted state is a handful of labels / two longs, and the s39
  // oracle re-derives it every run) -------------------------------------

  /** StringIndexer (reference ml/feature/StringIndexer.scala:84 fit:
    * labels ordered by frequency DESC via countByValue + sortBy(-count),
    * which leaves equal-count order UNSTABLE — pinned here to
    * (count DESC, label ASC), a declared determinism choice). The fitted
    * state is the k-label array — collected, because that IS the model. */
  final case class StringIndexerStage(inputCol: String, outputCol: String)
      extends Estimator {
    def fit(df: DataFrame): StringIndexerModel = {
      val labels = df.groupBy(inputCol).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col(inputCol).asc)
        .collect().map(_.getString(0)).toSeq
      StringIndexerModel(inputCol, outputCol, labels)
    }
  }

  /** The fitted indexer: one CASE chain (codegen'd). The reference
    * THROWS on unseen labels (StringIndexer.scala:128); here unseen maps
    * to null — the handleInvalid="skip" posture, declared. */
  final case class StringIndexerModel(inputCol: String, outputCol: String,
                                      labels: Seq[String]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        labels.zipWithIndex.foldLeft(lit(null).cast("long")) {
          case (acc, (l, i)) => when(col(inputCol) === l, lit(i.toLong)).otherwise(acc)
        })
  }

  /** OneHotEncoder (reference ml/feature/OneHotEncoder.scala — dropLast
    * defaults TRUE: the last category index encodes as all-zeros, k−1
    * indicator columns `prefix_i`). Pure projection. */
  final case class OneHotStage(inputCol: String, prefix: String,
                               numCategories: Int) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      (0 until numCategories - 1).foldLeft(df) { (d, i) =>
        d.withColumn(s"${prefix}_$i",
          when(col(inputCol) === i.toLong, 1L).otherwise(0L))
      }
  }

  /** Bucketizer (reference ml/feature/Bucketizer.scala:92
    * binarySearchForBuckets: bucket i covers [splits(i), splits(i+1)),
    * except the LAST bucket which includes its upper endpoint). Splits
    * here are exact integer thresholds over a pre-quantized column, so
    * the bucket decision never touches a double. */
  final case class BucketizerStage(inputCol: String, outputCol: String,
                                   splits: Seq[Long]) extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      val last = splits.size - 2
      df.withColumn(outputCol,
        (0 to last).foldLeft(lit(null).cast("long")) { (acc, i) =>
          val inBucket =
            if (i == last)
              col(inputCol) >= splits(i) && col(inputCol) <= splits(i + 1)
            else
              col(inputCol) >= splits(i) && col(inputCol) < splits(i + 1)
          when(inBucket, lit(i.toLong)).otherwise(acc)
        })
    }
  }

  /** Binarizer (reference ml/feature/Binarizer.scala:48 — STRICTLY
    * greater than the threshold maps to 1). Integer compare. */
  final case class BinarizerStage(inputCol: String, outputCol: String,
                                  threshold: Long) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        when(col(inputCol) > threshold, 1L).otherwise(0L))
  }

  /** The MinMaxScaler transform in milli-units over operand strings —
    * shared verbatim with the oracle (x, mn, mx are exact integers, so
    * the one double division is bit-identical on both engines). The
    * constant-column case (mn = mx) pins to the reference's midpoint
    * 0.5·(min+max) of the [0,1] target range = 500 milli
    * (MinMaxScaler.scala:146). */
  def minMaxMilliExpr(x: String, mn: String, mx: String): String =
    s"CAST(CASE WHEN $mx = $mn THEN 500 ELSE round(((CAST($x AS DOUBLE) - CAST($mn AS DOUBLE)) / (CAST($mx AS DOUBLE) - CAST($mn AS DOUBLE))) * 1000.0) END AS BIGINT)"

  /** MinMaxScaler (reference ml/feature/MinMaxScaler.scala:118 fit =
    * one min/max aggregate; :146 transform to the [0, 1] default range).
    * Fitted state: two longs. */
  final case class MinMaxScalerStage(inputCol: String, outputCol: String)
      extends Estimator {
    def fit(df: DataFrame): MinMaxScalerModel = {
      val r = df.agg(min(col(inputCol)).as("mn"), max(col(inputCol)).as("mx")).head()
      MinMaxScalerModel(inputCol, outputCol, r.getLong(0), r.getLong(1))
    }
  }

  final case class MinMaxScalerModel(inputCol: String, outputCol: String,
                                     mn: Long, mx: Long) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        expr(minMaxMilliExpr(inputCol, mn.toString, mx.toString)))
  }

  /** The two-column L2-normalize formula in milli-units over operand
    * strings — shared verbatim with the oracle. Zero-norm rows keep the
    * input unchanged (reference mllib/feature/Normalizer.scala:48 only
    * scales when norm > 0), i.e. x·1000 in milli. */
  def l2MilliExpr(x: String, x1: String, x2: String): String = {
    val norm = s"sqrt(CAST(($x1 * $x1) + ($x2 * $x2) AS DOUBLE))"
    s"CAST(CASE WHEN (($x1 * $x1) + ($x2 * $x2)) = 0 THEN $x * 1000 ELSE round((CAST($x AS DOUBLE) / $norm) * 1000.0) END AS BIGINT)"
  }

  /** 2-column Normalizer, p = 2 (reference mllib/feature/
    * Normalizer.scala:39). Pure projection. */
  final case class Normalizer2Stage(in1: String, in2: String,
                                    out1: String, out2: String) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(out1, expr(l2MilliExpr(in1, in1, in2)))
        .withColumn(out2, expr(l2MilliExpr(in2, in1, in2)))
  }

  /** ElementwiseProduct (reference mllib/feature/ElementwiseProduct
    * .scala:31 — Hadamard product with a fixed scaling vector; exact at
    * integer scales). */
  final case class ElementwiseProductStage(scales: Seq[(String, String, Long)])
      extends Transformer {
    def transform(df: DataFrame): DataFrame =
      scales.foldLeft(df) { case (d, (in, out, k)) =>
        d.withColumn(out, col(in) * k)
      }
  }

  // ---- StopWordsRemover (reference ml/feature/
  // StopWordsRemover.scala:88 — drops stop words from a token array;
  // caseSensitive defaults FALSE (:121), so matching lowercases the
  // token but PRESERVES the original casing in the output). Pure
  // projection; the stop list is a broadcast-inlined literal set. ------

  final case class StopWordsRemoverStage(inputCol: String, outputCol: String,
                                         stopWords: Seq[String],
                                         caseSensitive: Boolean = false)
      extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      val list = stopWords.map(w => if (caseSensitive) w else w.toLowerCase)
        .map(w => s"'${w.replace("'", "''")}'").mkString("array(", ", ", ")")
      val probe = if (caseSensitive) "t" else "lower(t)"
      df.withColumn(outputCol,
        expr(s"filter($inputCol, t -> NOT array_contains($list, $probe))"))
    }
  }

  // ---- PolynomialExpansion (reference ml/feature/
  // PolynomialExpansion.scala:38 — degree-2 expansion of (x, y) is
  // (x, x·x, y, x·y, y·y) in exactly that order, :35; over integer
  // features every term is an exact integer). Pure projection. --------

  final case class PolynomialExpansion2Stage(in1: String, in2: String)
      extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn("f1", col(in1))
        .withColumn("f2", col(in1) * col(in1))
        .withColumn("f3", col(in2))
        .withColumn("f4", col(in1) * col(in2))
        .withColumn("f5", col(in2) * col(in2))
  }

  /** One forward DCT-II output coefficient in milli units over x1..x4
    * integer inputs (reference ml/feature/DCT.scala:39 delegates to
    * JTransforms' DoubleDCT_1D.forward with scaling, :62 — the
    * orthonormal y_k = s_k Σ x_n cos(π(2n+1)k/2N), s_0 = sqrt(1/N),
    * s_k = sqrt(2/N); N = 4 here, cosine arguments fixed constants so
    * both engines evaluate libm cos at IDENTICAL doubles). Fixed
    * parenthesization, shared verbatim with the oracle. */
  def dct4Expr(k: Int): String = {
    // every decimal literal is CAST through DOUBLE explicitly — both
    // engines parse bare decimals as DECIMAL, and only the cast pins the
    // identical nearest-double on each side (the w2vUpdExpr convention)
    val n = 4
    val scale =
      if (k == 0) "sqrt(CAST(1.0 AS DOUBLE) / CAST(4.0 AS DOUBLE))"
      else "sqrt(CAST(2.0 AS DOUBLE) / CAST(4.0 AS DOUBLE))"
    val sum = (0 until n).map { j =>
      s"(CAST(x${j + 1} AS DOUBLE) * cos((CAST(${math.Pi} AS DOUBLE) * " +
        s"((CAST(2.0 AS DOUBLE) * $j) + CAST(1.0 AS DOUBLE)) * $k) / CAST(8.0 AS DOUBLE)))"
    }.reduce((a, b) => s"($a + $b)")
    s"CAST(round(($scale * $sum) * CAST(1000.0 AS DOUBLE)) AS BIGINT)"
  }

  /** Forward DCT-II over four integer input columns, milli-quantized. */
  final case class Dct4Stage(prefix: String) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      (0 until 4).foldLeft(df) { (d, k) =>
        d.withColumn(s"${prefix}$k", expr(dct4Expr(k)))
      }
  }

  // ---- QuantileDiscretizer (reference ml/feature/
  // QuantileDiscretizer.scala:62 — fit :87 SAMPLES the column
  // (getSampledInput :103, seed-dependent) and picks approximate split
  // candidates (:116 findSplitCandidates); DECLARED deviation: EXACT
  // quantile splits at the power-of-two fractions 1/4, 1/2, 3/4 via the
  // percentile aggregate — the house no-seeded-sampling rule, and the
  // quarters interpolate exactly in IEEE so both engines agree
  // bit-for-bit (the g07 precedent). numBuckets = 4. ------------------

  final case class QuantileDiscretizerStage(inputCol: String,
                                            outputCol: String) extends Estimator {
    def fit(df: DataFrame): QuantileSplitsModel = {
      val r = df.agg(
        expr(s"percentile($inputCol, 0.25D)").as("q1"),
        expr(s"percentile($inputCol, 0.5D)").as("q2"),
        expr(s"percentile($inputCol, 0.75D)").as("q3")).head()
      QuantileSplitsModel(inputCol, outputCol,
        Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    }
  }

  /** The fitted discretizer: bucket = how many splits the value has
    * reached — identical to Bucketizer's [split, next) buckets with
    * ±infinity outer rails (a value equal to a split belongs to the
    * bucket ABOVE it, Bucketizer.scala:92's left-closed convention). */
  final case class QuantileSplitsModel(inputCol: String, outputCol: String,
                                       splits: Seq[Double]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        splits.foldLeft(lit(0L)) { (acc, s) =>
          acc + when(col(inputCol) >= s, 1L).otherwise(0L)
        })
  }

  // ---- RFormula (reference ml/feature/RFormula.scala:50 — R-style
  // model formulas: fit at :82 resolves each RHS term, routing STRING
  // columns through StringIndexer + OneHotEncoder (dropLast — the
  // all-zeros reference category) and `a:b` through Interaction (:123),
  // then assembles `features` and materializes `label` from the LHS.
  // SUPPORTED SLICE, declared: '+'-joined terms, ':' interactions of
  // two numeric columns, '.' for every non-label column — no '-'
  // removal, no nested interactions. Features emit FLAT as f1..fn
  // BIGINT columns instead of a vector (the comparator-safe house
  // form); the k−1 dummy expansion keeps the reference's
  // frequency-desc category order with the alphabetical tiebreak.) -----

  final case class RFormulaStage(formula: String) extends Estimator {
    def fit(df: DataFrame): RFormulaModel = {
      val Array(lhs, rhs) = formula.split("~").map(_.trim)
      val raw = rhs.split("\\+").map(_.trim).filter(_.nonEmpty).toSeq
      val terms =
        if (raw == Seq(".")) df.columns.filterNot(_ == lhs).toSeq else raw
      val indexers = terms
        .filter(t => !t.contains(":") &&
          df.schema(t).dataType == org.apache.spark.sql.types.StringType)
        .map { t =>
          t -> StringIndexerStage(t, s"__${t}_idx").fit(df)
        }.toMap
      RFormulaModel(lhs, terms, indexers)
    }
  }

  /** The fitted formula: numeric terms pass through, indexed string
    * terms expand to k−1 frequency-desc dummies, `a:b` multiplies.
    * Output columns are f1..fn (expansion order = term order) + label. */
  final case class RFormulaModel(labelCol: String, terms: Seq[String],
                                 indexers: Map[String, StringIndexerModel])
      extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      var cur = df
      var feats = Seq.empty[org.apache.spark.sql.Column]
      terms.foreach { t =>
        if (t.contains(":")) {
          val Array(a, b) = t.split(":").map(_.trim)
          feats :+= (col(a) * col(b))
        } else indexers.get(t) match {
          case Some(m) =>
            cur = m.transform(cur)
            val k = m.labels.size
            feats ++= (0 until k - 1).map(i =>
              when(col(m.outputCol) === i.toLong, 1L).otherwise(0L))
          case None =>
            feats :+= col(t)
        }
      }
      val named = feats.zipWithIndex.map { case (c, i) =>
        c.cast("long").as(s"f${i + 1}")
      }
      cur.select((df.columns.map(col).toSeq :+ col(labelCol).as("label")) ++ named: _*)
    }
  }

  // ---- CountVectorizer (reference ml/feature/CountVectorizer.scala:110
  // fit: per-token (total count, document frequency) in one distributed
  // pass, minDF gate (absolute when >= 1, else a fraction of the doc
  // count, :135), vocabulary = top-vocabSize by count desc — the
  // reference's sortBy(-count) leaves equal-count order UNSTABLE, pinned
  // here to (count DESC, token ASC), the StringIndexer determinism
  // choice. The fitted state is the vocabulary array (<= vocabSize rows
  // collected — that IS the model). minTF is left at the reference
  // default 1.0, where it filters nothing (counts are >= 1), declared. --

  final case class CountVectorizerStage(inputCol: String, outputCol: String,
                                        vocabSize: Int, minDF: Double = 1.0,
                                        idCol: String = "doc_id")
      extends Estimator {
    def fit(df: DataFrame): CountVectorizerModel = {
      val toks = df.select(col(idCol), explode(col(inputCol)).as("__t"))
      // one groupBy carries both sufficient statistics; the doc-frequency
      // count-distinct expands once and combines map-side
      val stats = toks.groupBy("__t")
        .agg(count(lit(1)).as("__tc"), countDistinct(col(idCol)).as("__dc"))
      val minDfCount =
        if (minDF >= 1.0) minDF else minDF * df.count().toDouble
      // top-vocabSize via orderBy+limit (TakeOrderedAndProject — never a
      // single-partition sort over the full distinct-token table)
      val vocabulary = stats.filter(col("__dc") >= minDfCount)
        .orderBy(col("__tc").desc, col("__t").asc).limit(vocabSize)
        .collect().map(_.getString(0)).toSeq
      CountVectorizerModel(inputCol, outputCol, vocabulary, idCol)
    }
  }

  /** The fitted vectorizer (CountVectorizerModel, reference :192):
    * token -> vocabulary index by broadcast dictionary join (the
    * reference broadcasts the same map, :219), then the HashingTF
    * execution shape — per-(id, index) hash aggregate with map-side
    * combine, map assembly, join back. Output: dense array<double> of
    * term counts, length = vocabulary size; out-of-vocabulary tokens
    * contribute nothing; rows with no vocabulary tokens get the zero
    * vector. Same idCol-uniqueness contract as [[HashingTF]]. */
  final case class CountVectorizerModel(inputCol: String, outputCol: String,
                                        vocabulary: Seq[String],
                                        idCol: String = "doc_id")
      extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val dict = vocabulary.zipWithIndex
        .map { case (t, i) => (t, i.toLong) }.toDF("__t", "__j")
      val counts = df.select(col(idCol), explode(col(inputCol)).as("__t"))
        .join(broadcast(dict), "__t")
        .groupBy(idCol, "__j").agg(count(lit(1)).as("__c"))
        .groupBy(idCol)
        .agg(map_from_entries(collect_list(struct(col("__j"), col("__c")))).as("__m"))
      df.join(counts, Seq(idCol), "left")
        .withColumn(outputCol,
          expr(s"transform(sequence(0, ${vocabulary.size - 1}), " +
            "j -> CAST(coalesce(element_at(__m, CAST(j AS BIGINT)), 0L) AS DOUBLE))"))
        .drop("__m")
    }
  }

  // ---- NGram (reference ml/feature/NGram.scala:38 — sliding(n)
  // withPartial(false) over the token sequence, each n-gram the
  // space-joined window, :60; inputs shorter than n yield the empty
  // array, :36). Pure projection over the token array. -----------------

  final case class NGramStage(inputCol: String, outputCol: String,
                              n: Int = 2) extends Transformer {
    require(n >= 1, s"n must be >= 1, got $n")
    def transform(df: DataFrame): DataFrame =
      // the short-input guard matters: sequence(1, 0) in Spark is the
      // DESCENDING [1, 0], not empty — slice(x, 1, 0) is the typed
      // empty array
      df.withColumn(outputCol, expr(
        s"CASE WHEN size($inputCol) < $n THEN slice($inputCol, 1, 0) " +
          s"ELSE transform(sequence(1, size($inputCol) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice($inputCol, i, $n))) END"))
  }

  // ---- Pipeline plumbing transformers (the pure projections every real
  // Pipeline threads between learned stages): VectorAssembler (reference
  // ml/feature/VectorAssembler.scala:39 — numeric columns concatenated
  // into one feature vector, input order preserved), VectorSlicer
  // (VectorSlicer.scala:44 — subarray by 0-based indices, order as
  // given), IndexToString (StringIndexer.scala:246 — the fitted
  // indexer's inverse, index -> label; out-of-range maps to null, the
  // StringIndexerModel unseen-label posture), SQLTransformer
  // (SQLTransformer.scala:43 — a SQL statement over the __THIS__
  // placeholder view, :67). House vector form is array<double>. --------

  final case class VectorAssemblerStage(inputCols: Seq[String],
                                        outputCol: String) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol, array(inputCols.map(c => col(c).cast("double")): _*))
  }

  final case class VectorSlicerStage(inputCol: String, outputCol: String,
                                     indices: Seq[Int]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      // getItem is 0-based like the reference's API. element_at(v, i + 1)
      // gave the same values, but once v's projection was collapsed into
      // it, Spark generated code that declared no null flag for a
      // non-null element of an array that may hold nulls and then
      // assigned one: the stage failed to compile and fell back to
      // interpreted execution (s61). getItem of a literal array
      // simplifies to the element itself
      df.withColumn(outputCol,
        array(indices.map(i => col(inputCol).getItem(i)): _*))
  }

  final case class IndexToStringStage(inputCol: String, outputCol: String,
                                      labels: Seq[String]) extends Transformer {
    def transform(df: DataFrame): DataFrame =
      df.withColumn(outputCol,
        labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, (l, i)) => when(col(inputCol) === i.toLong, lit(l)).otherwise(acc)
        })
  }

  /** SQL over the running frame via the reference's __THIS__ placeholder
    * (SQLTransformer.scala:67 registers a uid-derived temp view and
    * substitutes). The view is dropped immediately after sql() — Spark
    * analyzes eagerly, so the returned plan is already bound to the
    * frame, not the view name. */
  final case class SQLTransformerStage(statement: String) extends Transformer {
    def transform(df: DataFrame): DataFrame = {
      val name = s"__this_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      df.createOrReplaceTempView(name)
      try df.sparkSession.sql(statement.replace("__THIS__", name))
      finally df.sparkSession.catalog.dropTempView(name)
    }
  }

  // ---- VectorIndexer (reference ml/feature/VectorIndexer.scala:97 fit:
  // per-feature distinct-value sets, cut off past maxCategories; a
  // feature with <= maxCategories distinct values is CATEGORICAL and
  // gets a value -> index map ordered zero-first then ascending
  // (:198-203 — sorted non-zero values with 0.0 prepended when present,
  // so index 0 is always the zero value and sparsity is preserved);
  // features past the cutoff stay continuous and pass through. House
  // form: flat integer feature columns; categorical feature `c` emits
  // `c_idx`, continuous features add nothing. ---------------------------

  final case class VectorIndexerStage(inputCols: Seq[String],
                                      maxCategories: Int) extends Estimator {
    def fit(df: DataFrame): VectorIndexerModel = {
      // ONE corpus scan for every feature (the reference's
      // CategoryStats mapPartitions+merge is the same single pass,
      // :125): stack the features into (feature, value) rows, distinct
      // once, then decide categorical-vs-continuous from per-feature
      // distinct COUNTS (a hash aggregate — never a window over a
      // continuous feature's full domain) and collect the domains of
      // the categorical features only. Both collects are bounded:
      // nFeatures rows, then <= nFeatures x maxCategories values.
      val stacked = df.selectExpr(
          s"stack(${inputCols.size}, " +
            inputCols.map(c => s"'$c', CAST($c AS BIGINT)").mkString(", ") +
            ") AS (__f, __v)")
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val catFeatures = stacked.groupBy("__f").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxCategories)
        .collect().map(_.getString(0)).toSet
      val domains =
        if (catFeatures.isEmpty) Map.empty[String, Seq[Long]]
        else stacked.filter(col("__f").isin(catFeatures.toSeq: _*))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      stacked.unpersist()
      val maps = inputCols.flatMap { c =>
        domains.get(c).map { domain =>
          val nonZero = domain.filter(_ != 0L)
          c -> (if (domain.contains(0L)) 0L +: nonZero else nonZero)
        }
      }.toMap
      VectorIndexerModel(inputCols, maps)
    }
  }

  /** The fitted indexer: per categorical feature one CASE chain
    * (codegen'd) value -> category index; unseen values map to null
    * (the handleInvalid-skip posture StringIndexerModel declares). */
  final case class VectorIndexerModel(inputCols: Seq[String],
                                      categoryMaps: Map[String, Seq[Long]])
      extends Transformer {
    def transform(df: DataFrame): DataFrame =
      inputCols.foldLeft(df) { (d, c) =>
        categoryMaps.get(c) match {
          case Some(cats) => d.withColumn(s"${c}_idx",
            cats.zipWithIndex.foldLeft(lit(null).cast("long")) {
              case (acc, (v, i)) => when(col(c) === v, lit(i.toLong)).otherwise(acc)
            })
          case None => d
        }
      }
  }
}
