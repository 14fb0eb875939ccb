package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates PLANS.md: formatted physical plans for the headline
  * queries, with a note on the property that makes each plan scale.
  * Run: sbt "runMain graft.Plans" (writes /root/repo/PLANS.md). */
object Plans {

  private val annotated: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      ("Scan-side filter pushdown (`PushedFilters: [IsNotNull(l_shipdate), " +
        "LessThanOrEqual(l_shipdate,...)]`) and a pruned `ReadSchema` (7 of 11 " +
        "columns); one partial+final HashAggregate pair around a single shuffle " +
        "on the 6-value grouping key."),
    "q04_local_supplier_volume" ->
      ("Star join: the two fact tables meet in ONE shuffled join; every " +
        "dimension enters as a BroadcastHashJoin, so no fact row is shuffled " +
        "more than once. AQE re-plans at runtime if a dimension outgrows the " +
        "broadcast threshold."),
    "d03_lsh_candidates" ->
      ("MinHash LSH: shingles explode into one codegen'd hash aggregate that " +
        "computes all 32 permutation minima map-side-combined (no interpreted " +
        "lambdas); degenerate buckets are counted and anti-joined out via " +
        "broadcast BEFORE any bucket materializes; pairs come from a " +
        "collect_list + double explode — no CartesianProduct, no window sort, " +
        "one shuffle on the band key for pair generation."),
    "s03_ivf_ann" ->
      ("IVF ANN: anchor dot products run as a compiled JIT'd kernel (plain " +
        "Scala closure over the broadcast-free literal anchor matrix), not " +
        "interpreted SQL lambdas; cluster assignment is argmax; probes " +
        "broadcast into their nprobe clusters, so the corpus is scanned once " +
        "and at real scale cluster id becomes the storage partition key for " +
        "source-level pruning."),
    "s01_cosine_topk" ->
      ("Brute-force ANN baseline: the probe set broadcasts (BroadcastNestedLoop " +
        "over the non-equi pair condition), so the corpus is read exactly once " +
        "with no shuffle; per-probe top-k is a window after a shuffle keyed by " +
        "probe_id."),
    "v01_tumbling_windows" ->
      ("Event-time windows: partial aggregation runs map-side before the " +
        "shuffle on (window, event_type) — the same plan runs incrementally " +
        "under readStream with watermark-bounded state."),
    "p01_trade_pagerank" ->
      ("Pregel-style superstep: each iteration is one join (messages) + one " +
        "aggregate (combine) + one left join (apply); the plan stays linear in " +
        "the iteration count and every shuffle is keyed by vertex."),
    "x01_salted_aggregate" ->
      ("Salted two-phase aggregation: phase 1 shuffles on (key, salt) so a " +
        "hot key fans out over 8 reducers instead of melting one; phase 2 " +
        "merges the tiny partial table on the true key. Two HashAggregate " +
        "pairs, two shuffles, result identical to the unsalted plan (the " +
        "DuckDB oracle IS the unsalted formulation)."),
    "x03_bucketed_join" ->
      ("Bucketed co-located join: both fact sides are stored bucketBy(8, " +
        "orderkey) sortBy(orderkey), so the SortMergeJoin consumes the " +
        "buckets directly — NO Exchange on either join input (the only " +
        "shuffle in the plan is the downstream groupBy). At 100 TB the " +
        "write-time shuffle is paid once; every later join on the bucket " +
        "key is exchange-free."),
    "x04_ivf_partition_pruned" ->
      ("IVF over a cluster-partitioned stored index: the corpus scan lists " +
        "only the probed clusters' directories (`PartitionFilters: [cluster " +
        "IN (...)]`, no pushed data filter), so a probe batch reads " +
        "nprobe/nClusters of the corpus bytes — the s03 design note made " +
        "physical. Same oracle as s03: storage layout is invisible in the " +
        "result."),
    "x05_global_row_index" ->
      ("Global row numbering without the single-partition sort a bare " +
        "`row_number() OVER (ORDER BY key)` collapses to: range repartition " +
        "gives a total order ACROSS partitions, per-partition counts (a " +
        "handful of longs) become broadcast offsets, and the window runs " +
        "per-partition — every stage parallel in numPartitions. The " +
        "zipWithIndex two-pass, DataFrame-shaped."),
    "s06_pq_adc" ->
      ("Product quantization: the probe scan reads the 8-byte CODE table, " +
        "never the raw vectors — a BroadcastNestedLoopJoin of the tiny probe " +
        "side against a corpus scan whose width is m codes, with one " +
        "compiled ADC kernel per pair. At a billion vectors the code table " +
        "is ~30x smaller than the float corpus; codebook training cost is " +
        "bounded (m x k x subDims doubles on the driver)."),
    "d04_neardup_pairs_jaccard" ->
      ("Near-dup verification, dup-rate-GATED (one approx_count_distinct " +
        "scan routes the path; knownDupRate overrides): dup-heavy corpora " +
        "take exact-dedup-first — a digest-partitioned window picks one " +
        "representative per distinct text, LSH banding and the shingle-" +
        "Jaccard verify join run once per DISTINCT text, and exact copies " +
        "re-enter through equi-join expansions (measured 21 s -> 2 s on " +
        "the 10x-tiled sf1 corpus) — while low-dup corpora skip the digest " +
        "window for a raw banded join whose bucket cap counts distinct " +
        "digests and whose same-digest pairs come from a digest self-join, " +
        "keeping the two paths pair-for-pair identical (DedupSpec pins " +
        "it)."),
    "d12_jaro_winkler_blocked" ->
      ("Blocked record linkage: deletion-neighborhood variants give an " +
        "equi-join candidate key (full recall at ed<=1), the pair-dedup " +
        "shuffle carries only (id_a, id_b) — strings re-attach afterwards " +
        "— and the native graft_jaro_winkler kernel scores candidates " +
        "inside WholeStageCodegen. The brute-force cross join the oracle " +
        "writes down never materializes."),
    "d11_jaro_winkler_topk" ->
      ("Record-linkage scoring with the native graft_jaro_winkler " +
        "expression: the generated code is one static kernel call, so the " +
        "probe-broadcast scoring scan is a single fused WholeStageCodegen " +
        "span (a Scala UDF here would break the stage at every call site) " +
        "followed only by the per-probe top-k window."),
    "x07_compacted_scan" ->
      ("Small-files compaction: 64 fragments rewritten as 4 range-" +
        "partitioned, key-sorted parquet files. The compacted scan reads 4 " +
        "files instead of 64 (per-file open/footer cost is the small-files " +
        "tax at scale), and because per-file key ranges are disjoint, " +
        "footer min/max stats prune a key lookup to ONE file."),
    "t12_decontaminate" ->
      ("Benchmark decontamination: the (tiny) benchmark shingle set is " +
        "distinct'd and BROADCAST, so the corpus is scanned ONCE and its " +
        "exploded shingles hash-probe the broadcast set with no shuffle — " +
        "the only shuffle is the per-doc hit-count rollup. At 100 TB the " +
        "eval set is a few MB of n-grams; a shuffle join here would move " +
        "the corpus to move kilobytes."),
    "x10_token_packing" ->
      ("Token-budget packing (training-data sequence packing): the " +
        "exclusive running token total comes from a range repartition + " +
        "per-partition sums broadcast back as offsets + a PER-partition " +
        "window — the weighted zipWithIndex two-pass, never the " +
        "single-partition sort a bare `sum() OVER (ORDER BY key)` " +
        "collapses to. Pack ids are exact integer division of the running " +
        "total, identical under any partition count."),
    "d17_span_decontaminate" ->
      ("Span-level decontamination, dedup-first: the benchmark reduces to " +
        "a distinct window-hash index; marking and excision run once per " +
        "DISTINCT train text (17s -> 1.9s at the 10x-tiled sf1) and every " +
        "copy inherits its digest's cleaned text via one equi-join. Token " +
        "excision is a LEFT ANTI range-join against the per-doc span " +
        "list; reassembly is a grouped sort_array per document — " +
        "partitioned, never a global sort."),
    "x11_group_sample" ->
      ("Fixed-size per-group sampling: ONE window shuffle keyed by the " +
        "group column; the md5-hash order makes the pick a pure function " +
        "of ids (partition- and ingestion-order-independent), and each " +
        "partition streams its group's top-m — no global sort, no " +
        "collect."),
    "d16_containment_pairs" ->
      ("Containment (subset-duplication) join, exact-dedup-first: the " +
        "prefix-filter/posting machinery runs per DISTINCT text (digest-" +
        "keyed), so n exact copies never multiply candidates n x n — " +
        "copies re-enter via digest equi-join expansions. The prefix " +
        "(floor((1-t)|A|)+1 rarest shingles, pigeonhole recall guarantee) " +
        "joins the posting table on the shingle key — equi-joins only, " +
        "never all-pairs; exact array_intersect verifies candidates. " +
        "Measured 15.4s -> 5.1s at the dup-heavy sf1 tiling."),
    "d13_dup_spans" ->
      ("Span-level substring dedup (suffix-array approximation): window " +
        "strings come from ONE compiled loop per document and are hashed by " +
        "a top-level codegen'd md5 (no interpreted lambdas — measured 3x on " +
        "the window stage); duplicated hashes are a single map-side-combined " +
        "min/max aggregate (min(doc)!=max(doc) replaces countDistinct's " +
        "two-phase dedup shuffle); the mark step is an equi-join of the " +
        "window table against that small hash set — a window shared by a " +
        "million docs costs a million marked rows, never a trillion pairs; " +
        "span assembly is a window partitioned per doc_id. Every stage " +
        "linear in corpus tokens."),
    "s10_ml_pipeline" ->
      ("Fitted TF-IDF pipeline (fit on the fixed training slice, transform " +
        "the whole corpus): the TF stage is explode -> codegen'd scalar " +
        "hash -> two-level hash aggregate (map-side combined) -> join back " +
        "by doc_id — every per-token op inside WholeStageCodegen and spread " +
        "across partitions. The per-ROW HOF formulation kept the plan " +
        "shuffle-free but ran interpreted on the source file's single " +
        "split: 27s -> 2.4s at sf0.1 from this shape alone. The fitted IDF " +
        "vector is 32 doubles folded in as a literal array — learned " +
        "parameters ride in the plan, not in a join."),
    "d19_bloom_incremental_dedup" ->
      ("Bloom-prefiltered incremental dedup: the corpus digest bloom " +
        "(one aggregation scan, zero false negatives) broadcasts into the " +
        "batch scan as a compiled filter, so only SUSPECTED rows reach the " +
        "exact anti-join — the clean majority of a daily batch is admitted " +
        "with no shuffle at all. At 100 TB the filter is built once beside " +
        "the standing digest index; the result is row-identical to the " +
        "exact formulation (the oracle IS d10's SQL on this split)."),
    "x12_zorder_scan" ->
      ("Z-order (interleaved) layout: both columns quantized to 16 bits " +
        "by exact integer arithmetic and bit-interleaved into a codegen'd " +
        "sort key (builtin shift/mask/or — no UDF); the write is range-" +
        "partitioned + sorted on the Z-key and installed atomically. Every " +
        "file's footer [min, max] stays bounded in BOTH dimensions, so " +
        "selective predicates on either column prune most files before any " +
        "byte is read — ScaleSpec proves it against a single-sort control " +
        "where the second dimension prunes nothing."),
    "t19_bpe_merges" ->
      ("BPE tokenizer training as iterative distributed aggregation: ONE " +
        "corpus pass builds the word-frequency working set, then each " +
        "round is an explode -> map-side-combined pair-count aggregate " +
        "over DISTINCT words plus a single-row argmax — round cost tracks " +
        "vocabulary, not corpus (measured FLAT 2.17 s at sf0.1 and the " +
        "10x sf1 tiling). The merge applies as one compiled greedy loop " +
        "per word, and the word table localCheckpoints so plan depth is " +
        "constant across rounds."),
    "p09_trade_scc" ->
      ("Strongly connected components, forward-backward coloring: two " +
        "pregel runs per peeling round over the once-materialized distinct " +
        "edge table; each superstep is one frontier-edge hash join plus a " +
        "map-side-combined min aggregate, and the in-color restriction is " +
        "two broadcast-able equi-joins against the color table. Confirmed " +
        "components are peeled with semi-joins so every later round scans " +
        "only the shrinking remainder — at 100 TB the round cost tracks " +
        "the unresolved subgraph, not the input."),
    "h08_lateral_topk" ->
      ("LATERAL correlated ORDER BY/LIMIT decorrelated by Catalyst into " +
        "WindowGroupLimit: the per-nation top-2 is pre-pruned MAP-SIDE " +
        "(each task keeps <=2 rows per key before the exchange), then one " +
        "window rank and one equi-join — never a per-nation re-scan, " +
        "never a nested loop. The plan that survives a 100x customer " +
        "table."),
    "h05_sql_scalar_udf" ->
      ("CREATE FUNCTION ... RETURN inlines the body into the aggregate " +
        "expression tree — the cents math sits INSIDE the partial " +
        "HashAggregate's codegen stage, no ScalaUDF boundary, identical " +
        "plan to hand-inlined SQL (ModernSqlSpec pins both)."),
    "d20_semdedup" ->
      ("SemDeDup: sampled-Lloyd training touches the vec_id % 4 sample, " +
        "ONE full-corpus assignment pass (JIT'd argmin closure), and " +
        "candidates come from the RP-LSH band equi-join — the published " +
        "recipe's within-cluster all-pairs scan is replaced by banding, " +
        "so cluster size never squares. Removal is a distinct + left " +
        "anti-shaped join, all hash-partitioned."),
    "t21_ccnet_buckets" ->
      ("CCNet terciles: the LM-score chain (one shuffle pair) feeds the " +
        "x05 two-pass global rank — range repartition + per-partition " +
        "row_number + broadcast offsets — and the bucket label is pure " +
        "arithmetic on (rank, N). No single-partition window sort " +
        "anywhere; the rank pass scales as a range shuffle."),
    "v10_state_reader" ->
      ("State data source: the statestore scan lists the checkpoint's " +
        "RocksDB snapshots and reads per-partition state files in " +
        "parallel — state inspection costs one narrow scan, no replay " +
        "of the stream that built it."),
    "q19_bag_setops" ->
      ("Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL lower to a " +
        "count-per-group join + Generate (replicate_rows) — counts meet in " +
        "one shuffled aggregate per side, matched rows re-expand via the " +
        "generator, and NO distinct/dedup step appears anywhere (bag " +
        "multiplicity is the semantics, not a post-processing fix)."),
    "h10_pipe_syntax" ->
      ("SQL pipe syntax: each |> stage lowers to the identical relational " +
        "operator of the nested standard-SQL form — the post-AGGREGATE " +
        "WHERE becomes HAVING (a Filter above the final HashAggregate), so " +
        "the dataflow-ordered text costs exactly the classic plan: one " +
        "partial+final aggregate pair around one shuffle."),
    "h12_named_window" ->
      ("Named WINDOW clause: WindowsSubstitution inlines the spec into " +
        "both OVER references, so rank() and the running sum land in ONE " +
        "Window operator — one shuffle + one sort on the partition key, " +
        "not one per expression."),
    "p12_landmark_hops" ->
      ("Landmark shortest paths: one pregel loop whose state is the " +
        "per-landmark distance vector — each superstep joins the " +
        "once-partitioned edge cache a single time regardless of landmark " +
        "count, and the preAggregate two-level merge collapses duplicate " +
        "distance vectors map-side before any reducer sees them."),
    "s12_als_recommend" ->
      ("ALS on the rank-r kernel at rank 2: each half-step is one " +
        "equi-join of ratings to a (key, 2 longs) factor table + one " +
        "map-side-combined hash aggregate of r(r+3)/2 = 5 exact integer " +
        "sums; the generated elimination layers solve every key's 2x2 " +
        "system as a per-row projection chain. " +
        "Recommendation broadcasts the item factors, so the serving pass " +
        "is join-free on the corpus side."),
    "s13_svdpp" ->
      ("SVD++: phase 1 is one join + per-user sum (implicit vectors), " +
        "phase 2 one scored-edge projection feeding a per-user and a " +
        "per-item hash aggregate; all gradient sums are exact quantized " +
        "integers, so the plan carries no ordering constraints and every " +
        "generation localCheckpoints to keep lineage flat."),
    "s14_linear_regression" ->
      ("Closed-form OLS: nine integer sufficient statistics in ONE " +
        "map-side-combined aggregation scan, the 3x3 Cramer solve as a " +
        "1-row projection whose formula STRING is shared verbatim with " +
        "the oracle, and scoring broadcasts that single row — the model " +
        "never becomes distributed state."),
    "s16_association_rules" ->
      ("Association rules with the apriori prune: infrequent singletons " +
        "are semi-joined away BEFORE the basket self-join, so the pair " +
        "fan-out is bounded by frequent-item co-occurrence, not raw " +
        "basket width; confidence/lift are integer micro-unit divisions " +
        "— no doubles in the plan at all."),
    "s18_frequent_sequences" ->
      ("Length-2 sequence mining from per-user per-item TIME BOUNDS: one " +
        "hash aggregate over events, then a stats self-join quadratic in " +
        "the item vocabulary (not in session length) — the shape that " +
        "keeps 'A then B' mining linear over 100 TB of clickstream."),
    "s15_naive_bayes" ->
      ("Naive Bayes: training is two hash aggregates over the exploded " +
        "train tokens; classification joins the (label, token) likelihood " +
        "table once (bucketed by token at real scale) and sums exact " +
        "micro-nat integers per (doc, label) — the tiny label set rides a " +
        "broadcast, no per-row UDF anywhere."),
    "n16_ks_uniform" ->
      ("One-sample KS: the ECDF rank comes from range-repartition + " +
        "broadcast partition offsets (never a single-partition global " +
        "sort); per-row deviations quantize to exact micro-integers so " +
        "the final max is one map-side-combined aggregate."),
    "s19_logistic_regression" ->
      ("Full-batch logistic GD: each iteration is ONE scan of the " +
        "persisted feature table computing three exact-integer gradient " +
        "sums (map-side combined) against a broadcast 1-row weight table; " +
        "the sigmoid and the quantized update are formula strings shared " +
        "verbatim with the oracle, and the weight row localCheckpoints so " +
        "plan depth stays constant across iterations."),
    "s20_decision_tree" ->
      ("Histogram decision tree: per level the HISTOGRAM shuffles (nodes " +
        "x features x bins rows), never the data — one hash aggregate, a " +
        "prefix-sum window over the tiny candidate table, and a broadcast " +
        "route join; the exact shape DecisionTree.findBestSplits " +
        "aggregates per level, and why depth-d training reads the corpus " +
        "exactly d times at any scale."),
    "s21_pca_features" ->
      ("Scaler + closed-form PCA: BOTH stages fit from one exact-integer- " +
        "sum aggregation scan; the 2x2 eigen-solve is a fixed double " +
        "expression chain on a 1-row frame, and the transform is a pure " +
        "projection with the fitted doubles as literals — the model never " +
        "becomes distributed state."),
    "s22_frequent_triples" ->
      ("Apriori k=3: infrequent items are semi-joined away before ANY " +
        "join, frequent-pair occurrences are semi-joined against the " +
        "grouped pair table, and the third-item extension semi-joins both " +
        "remaining 2-subsets — candidate fan-out is bounded by the " +
        "frequent-pair lattice, not raw basket width."),
    "n17_spearman" ->
      ("Spearman with tied-rank averaging: ranking runs on the DISTINCT-" +
        "value counts (rows shrink to the value vocabulary before any " +
        "ordering work), the prefix sum is range-repartition + broadcast " +
        "offsets — never a single-partition sort — and doubled average " +
        "ranks keep ties integer-exact, with DECIMAL(38,0) sums clearing " +
        "the n^3 magnitude a BIGINT overflows past ~1.3M rows."),
    "s24_bisecting_kmeans" ->
      ("Bisecting k-means: each level is one compiled per-cluster argmin " +
        "scan + one map-side-combined integer-sum aggregate of clusters x " +
        "2 rows per Lloyd round — identical cost shape to flat k-means " +
        "per level, with the binary-tree relabel a pure projection."),
    "s25_random_forest" ->
      ("Random forest: three independent s20-shaped histogram fits over " +
        "deterministic 2/3 bags, then scoring as three BROADCAST route " +
        "joins + one vote projection — the cohort is scanned once per " +
        "tree with nothing but node-table joins, so ensemble size " +
        "multiplies the histogram cost, never the shuffle volume."),
    "s26_gradient_boosted" ->
      ("Boosted stumps: per round ONE histogram aggregate of residual " +
        "sums + one residual-update projection against O(1) collected " +
        "split constants — boosting depth multiplies scans, never " +
        "shuffles, and the variance argmax runs on a bins-sized table."),
    "p13_trade_pic" ->
      ("Power iteration clustering: each power step is one edge-to-" +
        "vector equi-join + one map-side-combined integer-sum aggregate " +
        "(the p01 pregel cost shape), normalization a 1-row broadcast; " +
        "the embedding k-means touches only the vertex table. Integer-" +
        "exact end to end — no doubles anywhere in the plan."),
    "s27_linear_svm" ->
      ("Linear SVM: per hinge step ONE scan with a broadcast 1-row " +
        "weight table — the violator test is an exact integer margin " +
        "compare inside whole-stage codegen, the gradient three " +
        "map-side-combined integer sums; iteration count, not data " +
        "volume, sets the cost floor."),
    "s34_chisq_selector" ->
      ("Chi-squared selection: one explode -> (token, label) hash " +
        "aggregate builds every contingency table at once; marginals " +
        "come back as two broadcast joins and the statistic is a pure " +
        "projection — feature count, not corpus size, bounds the " +
        "post-aggregate work."),
    "s36_column_similarities" ->
      ("Column similarities: brute-force pairwise cosine over columns " +
        "via the sparse co-occurrence join — row ids never shuffle as " +
        "pairs, only (row, col, val) triples join on row id, so cost " +
        "tracks nnz^2/rows like DIMSUM-at-threshold-0, with norms one " +
        "map-side-combined aggregate."),
    "s38_plsa_topics" ->
      ("PLSA EM on the K-topic kernel at K = 2: per iteration ONE " +
        "counts-join-theta-join-phi projection (row-linear in distinct " +
        "doc-term pairs; phi broadcasts at vocabulary size) + a per-doc " +
        "and a per-word hash aggregate of K-1 and K sum columns; both " +
        "state tables localCheckpoint so plan depth " +
        "stays constant across iterations — the EMLDAOptimizer " +
        "edge-reaggregation cost shape without the graph machinery."),
    "s46_lda_topics" ->
      ("Smoothed LDA EM on the K-topic kernel at K = 2 (s38's shape " +
        "with Dirichlet priors): the same " +
        "row-linear counts ⋈ docState ⋈ termState join per iteration, " +
        "plus TWO 1-row broadcast frames (global topic totals and the " +
        "(ntot, vn) constants) feeding the smoothed E-step ratio; state " +
        "is expected COUNTS so every M-step sum is an exact integer."),
    "s47_implicit_als" ->
      ("Implicit ALS on the rank-r kernel at rank 2: the YᵀY Gramian " +
        "is ONE r(r+1)/2 = 3-sum aggregate over the factor table, " +
        "broadcast as a 1-row frame into every per-key solve — the " +
        "Hu/Koren/Volinsky trick that keeps per-key work proportional to " +
        "OBSERVED ratings; the confidence-weighted sums ride the same " +
        "single equi-join + hash aggregate as s12 and feed the same " +
        "elimination layers."),
    "s48_word2vec" ->
      ("Word2vec on the dims-generated kernel at dims = 2: pair " +
        "extraction is the only row-linear stage (a " +
        "per-document positional self-join bounded by the ±2 window); " +
        "the vocabulary table (30 rows) broadcasts into all three " +
        "factor joins, and every gradient is a map-side-combined exact " +
        "integer sum into a vocabulary-bounded model — corpus size " +
        "never touches model-side shuffle width."),
    "s50_lbfgs" ->
      ("L-BFGS(m=1): per iteration one full-scan gradient aggregate " +
        "(identical to s19's) + the entire two-loop recursion as chained " +
        "projections over a 1-ROW state frame — the direction algebra " +
        "costs nothing at any scale; only the gradient pass touches " +
        "data."),
    "v15_invertible_window" ->
      ("Invertible window: per micro-batch ONE map-side-combined " +
        "aggregate into the (key × slice) partial table (commutative " +
        "merges — batch arrival order invisible); the emission's " +
        "cum − lag(cum, W) runs per key over the dense slice grid, " +
        "never re-reducing a window."),
    "x16_tree_aggregate" ->
      ("Tree aggregation: 64 leaf buckets -> 8 -> 1, three small " +
        "exchanges instead of one final reducer swallowing every " +
        "partition's wide partial — the treeAggregate shape " +
        "GradientDescent relies on; result-invisible by associativity."),
    "s51_kmeans_parallel" ->
      ("k-means|| oversampling: per round ONE point × candidate " +
        "broadcast join (candidates are a bounded handful by the l·k " +
        "budget), a per-point min, a 1-row φ broadcast, and the scaled " +
        "Bernoulli selection filter — row-linear per round at any " +
        "corpus size, vs k-means++'s k sequential full passes; the " +
        "final candidate weighting is one more min-distance join + " +
        "hash aggregate."),
    "s55_frequent_triples_seq" ->
      ("PrefixSpan length-3, the optimal-endpoints argument made " +
        "physical: taking a = the EARLIEST A-event and c = the LATEST " +
        "C-event is optimal, so A→B→C existence needs only the per-user " +
        "(item, tmin, tmax) stats table — the (A, C) prefix join is " +
        "bounded by |types|² per user and event rows NEVER pair with " +
        "each other; one events ⋈ pair join + distinct + hash aggregate " +
        "does the support counting."),
    "s59_count_vectorizer" ->
      ("CountVectorizer: fit is one explode + per-token hash aggregate " +
        "carrying BOTH sufficient statistics (count + doc-frequency), " +
        "then orderBy+limit (TakeOrderedAndProject — per-partition " +
        "top-k, bounded merge, never a global-window rank) to the " +
        "vocabSize collect that IS the model; transform joins the " +
        "BROADCAST dictionary and rides the HashingTF two-level " +
        "map-side-combined count shape — corpus size never touches " +
        "the model side."),
    "s61_plumbing_stages" ->
      ("Pipeline plumbing: StringIndexer's fit is the only aggregate " +
        "(k-label collect, bounded); everything after — IndexToString's " +
        "CASE chain, assembler/slicer array projections, the " +
        "SQLTransformer statement — fuses into the SAME " +
        "WholeStageCodegen span as the base join: five logical stages, " +
        "zero added shuffles."),
    "s63_aft_survival" ->
      ("AFT survival regression: three full-batch descent steps, each " +
        "ONE scan computing four exact micro-quantized gradient sums " +
        "(map-side combined) + a 1-row parameter update projection — " +
        "the GradientDescent dataflow; scoring broadcasts the 1-row " +
        "param frame, so only the feature build shuffles."),
    "s64_recommend_for_all" ->
      ("Batch recommendation serving: the ALS fit dominates (per " +
        "half-step one equi-join + map-side-combined hash aggregate); " +
        "serving is a broadcast of the bounded item catalog into the " +
        "cohort with a USER-partitioned top-k rank window — the " +
        "catalog-bounded frame, never a global sort, and at " +
        "billion-item scale the ANN index path replaces it."),
    "x18_matrix_conversions" ->
      ("Distributed matrix conversions: transpose is a projection " +
        "(swap i/j), toIndexedRowMatrix ONE hash aggregate grouping " +
        "entries by row with a j-ordered in-group sort — entries stay " +
        "(i, j, v) triples end to end, nothing densifies, dims are a " +
        "1-row broadcast."),
    "p15_aggregate_neighbors" ->
      ("aggregateMessages one-shot: the operator itself is the " +
        "Union + per-vertex hash aggregate in the middle of the plan " +
        "— per-direction edge projections into ONE map-side-combined " +
        "combine, no join between send and merge (sendMsg reads edge " +
        "attrs only: the TripletFields.None fast path). The joins " +
        "visible above/below it are the trade-edge build (broadcast " +
        "dims) and the query's final neighbor-set ⋈ in-weight " +
        "assembly of two aggregateNeighbors results."),
    "x19_topk_by_key" ->
      ("Bounded per-key top-k: ObjectHashAggregate partial+final around " +
        "ONE exchange — each partial buffer caps at k elements, so the " +
        "shuffle carries at most k rows per (key, map task) and no " +
        "WindowExec sort appears anywhere; the window-rank formulation " +
        "(the oracle) would shuffle every row and sort whole key groups " +
        "before discarding all but k."),
    "p16_edge_list_load" ->
      ("Edge-list loading: the parse (comment/blank filter, whitespace " +
        "split, casts, canonical swap) is one narrow codegen projection " +
        "fused into the text scan — zero shuffles until the degrees " +
        "aggregate, so loader cost IS read bandwidth; degrees are two " +
        "map-side-combined hash aggregates meeting in a co-partitioned " +
        "full-outer join on vertex."),
    "x20_kmeans_datagen" ->
      ("Synthetic cluster generation: the whole generator (LCG chains, " +
        "Box-Muller, center arithmetic) is one codegen projection over " +
        "the key scan — centers are pure functions of the cluster id, " +
        "so no center table and no join exist; the only exchange is the " +
        "final 5-group recovery aggregate. At 100 TB generation cost is " +
        "write bandwidth."),
    "x22_secondary_sort" ->
      ("Secondary sort: ONE hash exchange on the key whose in-partition " +
        "sort the per-key window consumes directly — the window adds no " +
        "Sort or Exchange of its own (the only other pair is the final " +
        "output ORDER BY), and the rank filter turns into a " +
        "WindowGroupLimit so each group stops at k. The cohort predicate " +
        "pushes through the repartition to the scan (PushedFilters). The " +
        "per-entity ordered pass never funnels the corpus into one task."),
    "s68_gbt_trees" ->
      ("Boosted regression trees: each round's tree fit is the s20 " +
        "histogram shape (ONE map-side-combined hash aggregate per level " +
        "— the histogram shuffles, never the rows), and the fitted tree " +
        "re-enters as a LITERAL nested CASE projection, so the residual " +
        "update is zero-join codegen; plan depth is rounds x levels, " +
        "corpus cost is rounds x scans."),
    "x21_tall_skinny_qr" ->
      ("Tall-skinny QR: the ONLY aggregate is the 3-sum exact-integer " +
        "Gramian (one partial+final pair); R is derived on the 1-row " +
        "factor frame and Q is a broadcast back-substitution projection " +
        "over the cohort scan — no inverse materializes, no row shuffles " +
        "besides the Gramian's."),
    "s70_ivfpq_adc" ->
      ("IVF-PQ composite: coarse training touches only the hash sample; " +
        "the corpus pays ONE assignment+residual+encode pass (compiled " +
        "kernels, no interpreted lambdas); the probe scan is a broadcast " +
        "hash join on the CLUSTER key, so each probe reads nprobe/nCoarse " +
        "of the 8-byte code table and never a raw vector — at storage " +
        "scale cluster becomes the partition key and the scan prunes at " +
        "the source (the x04 layout)."),
    "t22_dsir_select" ->
      ("DSIR selection: one (doc, bucket) count shuffle; both bucket " +
        "models are B-bounded aggregates of it; the B-row log-ratio " +
        "table broadcasts back onto the counts; selection is " +
        "TakeOrderedAndProject (orderBy+limit), never a global window " +
        "sort — the corpus is read once and shuffled once."),
    "s74_binned_tree" ->
      ("maxBins quantile binning: the rank window runs over the HASH " +
        "SAMPLE only (the reference's own in-memory sample sort, " +
        "bounded by sampleMod sizing); the full corpus pays one " +
        "codegen CASE projection per feature (the collected " +
        "features x maxBins edge table — no join), and every per-level " +
        "tree window then sweeps <= features x maxBins candidate rows " +
        "per node, however many distinct raw values the data carries."),
    "s77_binned_pr_curve" ->
      ("numBins curve downsampling: the only row-linear stage is the " +
        "initial score groupBy; the equal-count rank is " +
        "globalRowIndex's range-repartition + per-partition window + " +
        "broadcast offsets (no single-task sort), and the cumulative " +
        "sweep windows run over <= numBins+1 binned points instead of " +
        "every distinct score."),
    "s28_binary_metrics" ->
      ("Exact-path curve sweep, now partition-parallel (r20 — the cap " +
        "is gone): the curve table range-repartitions on descending " +
        "threshold, ONE (n, np) sum pair per partition reaches the " +
        "driver, exclusive offsets broadcast back as a literal map, and " +
        "the cumulative window is partitionBy(__pid) over each range " +
        "slice — no SinglePartition exchange, no global Sort, at any " +
        "distinct-score count. Lags are free off the inclusive sums " +
        "(tp0 = tp - np), so the whole sweep is one narrow window " +
        "stage."),
    "s95_dimsum_similarities" ->
      ("Thresholded DIMSUM: the per-column (magnitude, keep " +
        "probability) table is dimension-bounded and broadcasts; the " +
        "deterministic md5 coin FILTERS cells BEFORE the per-row pair " +
        "self-join, so pair emission is over surviving cells only — " +
        "the reference's O(n log n / gamma) shuffle bound, not brute " +
        "force. Gramian magnitudes come off exact DECIMAL(38,0) " +
        "second moments (one aggregate)."),
    "s96_gmm_2d" ->
      ("2-D full-covariance EM: the corpus persists once; every " +
        "iteration is ONE aggregate scan (six exact DECIMAL sums) " +
        "against a broadcast 1-row state, then a 1-row update " +
        "projection localCheckpointed — plan depth constant across " +
        "iterations, per-iteration cost the scan. The same shape " +
        "drives s110's joint (d, K) generalization at K = 3."),
    "s97_pca_k" ->
      ("Generated Jacobi eigensolve: the corpus pays ONE exact-integer " +
        "moment aggregate; every sweep after that is a selectExpr " +
        "layer chain over a 1-ROW state frame (localCheckpoint per " +
        "sweep bounds the collapsed expression tree), so the driver " +
        "never holds more than 2 d^2 doubles and no row data re-scans."),
    "s103_ols_k" ->
      ("d-feature OLS: one moment scan collects the (d+1)(d+2)/2 " +
        "exact-integer normal-equation sums; the pivoting-free " +
        "elimination runs as ~2(d+1) projection layers on the 1-row " +
        "state; scoring is a broadcast of the beta row over the cohort " +
        "scan — two row-linear passes total, everything else 1-row."),
    "v18_count_by_value_window" ->
      ("Invertible windowed counts: each micro-batch folds ONE " +
        "additive partials row-set into the standing state table " +
        "(add the new slice, retire the expired one — the " +
        "reduceByKeyAndWindow inverse form); per-value rows and the " +
        "v = -1 global sentinel are served from the SAME state, so " +
        "the trio costs one state join regardless of window span."),
    "s109_als_rank" ->
      ("Rank-r ALS: each half-step is one shuffle on the solve key " +
        "into a map-side-combined r(r+3)/2-sum aggregate, then the " +
        "generated elimination layers run as a PER-ROW projection " +
        "chain (every key's row is its own r x r system — whole-stage " +
        "codegen, no per-key LAPACK call, no driver loop); factor " +
        "tables stay (key, r longs) and broadcast when a side is a " +
        "bounded catalog."),
    "s110_gmm_kd" ->
      ("Joint (d, K) GMM at (2, 3): the s96 EM scan shape with K - 1 " +
        "responsibility columns in the SAME single scan — per " +
        "iteration one aggregate over the persisted corpus against a " +
        "broadcast 1-row state carrying all K components' parameters; " +
        "component K is complement algebra in the update projection, " +
        "so K never adds a second pass."))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val sf = "/root/testdata/sf0.001"
    val out = new StringBuilder
    out.append("# PLANS — headline physical plans (sf0.001, regenerate: `sbt \"runMain graft.Plans\"`)\n")
    annotated.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE so codegen ids and chosen joins are real
      out.append(s"\n## $name\n\n$note\n\n```\n")
      out.append(df.queryExecution.explainString(FormattedMode).take(6000))
      out.append("\n```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), out.toString)
    println(s"[plans] wrote ${annotated.size} plans to PLANS.md")
    spark.stop()
  }
}
