"""Generate PLANS.md: formatted physical plans of headline queries with
the scale-relevant properties called out. Run after plan-affecting
changes: python tools/gen_plans.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as m
from m3d_engine_spark.session import build_session

HEADLINERS = {
    "exact_substr": "Hash-free ExactSubstr (round 13; r14 re-seed): prefix-doubling equality classes — the seed groups raw 8-gram text once (g0=8 collapses the whole cascade to the seed exchange at L=8 and saves a doubling round at any L; A/B-measured -13 to -31% per entry vs g0=4), then each doubling round is a (doc,pos)-keyed shift self-join + class-keyed groupBy-min + join-back, with BOTH self-join inputs pinned by lazy localCheckpoints (the Scan ExistingRDD leaves below): without the lineage cut the branches re-derive the whole cascade (zero ReusedExchange measured, exponential in rounds). Classes are min-(doc,pos) structs, so NO global sort or dense-rank bottleneck exists at any corpus size; the removal tail is the same keyed rebuild repeated_spans uses.",
    "decontaminate_spans": "Surgical benchmark decontamination (round 13): one suffix-class cascade over the side-tagged train-union-benchmark relation (the benchmark side rides for free); the contaminated-class relation is benchmark-sized and BROADCASTS into the cover join (pinned), so the train side pays exactly one extra broadcast probe beyond the cascade; removal is the (doc)-keyed rebuild.",
    "incremental_decontaminate": "Incremental scrub (round 14): the state anti-join (LeftAnti on the id key) pares the train side BEFORE tokenization, so only unseen documents enter the suffix cascade — the nightly batch pays batch-sized cascade cost regardless of lake size; downstream identical to decontaminate_spans (benchmark-sized broadcast, keyed rebuild).",
    "dedup_advisor": "Pre-flight dial report (round 11): the band relation aggregates once on (band, band_key); percentiles come from a SIZE-histogram (rows = distinct bucket sizes, a few hundred at any scale) so the only unpartitioned window runs over the histogram, never the bucket relation; the 1-row stats relations meet via broadcast. Nothing larger than the histogram is sorted or single-partitioned.",
    "jaccard_advisor": "Jaccard-side pre-flight (round 11): the same bucket_dial_report machinery over the (source, shingle) posting relation ngram_jaccard_pairs' inverted-index self-join explodes on — shingle text hashes to 64-bit before counting, the df census partial-aggregates map-side, and all downstream statistics are histogram-sized.",
    "pricing_summary": "One shuffle: map-side partial HashAggregate → exchange on the 2 group cols → final aggregate. Filter pushed to the parquet scan.",
    "order_revenue": "customer broadcasts (BroadcastHashJoin); both date filters sit below the joins as PushedFilters.",
    "range_materialization": "The OR-of-ANDs partition predicate lands in the scan as a plain filter — on a partitioned table this slot becomes PartitionFilters (see tests/test_plans.py).",
    "minhash_lsh": "Self-join of the banded-signature subtree: the SMJ hint pins both sides to identical shuffle exchanges, which AQE's exchange reuse collapses at runtime (the static plan below still shows both); a broadcast plan would force two full evaluations of the md5 pipeline — measured 2-3x slower and nondeterministic.",
    "text_stats": "Pure projection over the scan: WholeStageCodegen span with zero exchanges and no Python operators.",
    "seeded_ann": "ArrowEvalPython computes all 12 LSH buckets in one numpy matmul; posexplode turns them into (table, bucket) rows and ONE equi-join generates candidates — no per-table branches, no persisted relations; scoring joins read vectors straight from the scans.",
    "sessionize": "Pure-JVM batch form: one exchange on user_id feeds Window (lag + running sum), then partial+final HashAggregate. No Python/Arrow operator anywhere.",
    "embedding_dups": "Sign-LSH bucketed self-join: SMJ pinned by hint so both sides reuse one shuffle exchange; cosine evaluated only on bucket collisions.",
    "jaccard_pairs": "Inverted-index set-similarity with the hot-shingle df-cutoff ON: window count over the same (block, shingle) key the SMJ self-join shuffles on (exchange reused); Jaccard comes from the kept-collision count plus the hot-set correction left-joins — NO array_union and no join back to full shingle arrays anywhere (the round-3 regression shape). Size filter prunes inside the join condition. For skew BELOW the cutoff (one boilerplate shingle = one SMJ task owning k² pair rows) the salt_df/salt_buckets fallback splits hot shingles into a bucketed second join — output pinned identical, plan pinned two-SMJ with the salt in the equi-key (tests/test_plans.py::test_jaccard_salted_plan_shape).",
    "simhash64_hamming": "Banded Hamming join: 64-bit signatures aggregated once (hash-once explode topology), pigeonhole band keys drive an SMJ self-equi-join with the shared exchange reused; bit_count(xor) evaluates only on band collisions, never all-pairs.",
    "asof_join": "JOIN-FREE as-of join: union the tagged sides, ONE hash exchange on the key, carry the last right value forward with last(ignorenulls) over the window, keep left rows. No join operator in the plan at all (pinned).",
    "range_join": "Bucketed interval join: intervals explode into covered time buckets, the join is a plain equi-join on (user, bucket) with the exact BETWEEN refine as a post-join filter — never the BroadcastNestedLoopJoin raw inequality predicates get (pinned).",
    "winnow_fingerprints": "Winnowing: posexplode ordered shingles; the per-doc count window and the sliding-min window share one exchange on the doc id, then a distinct.",
    "ivf_topk": "IVF-flat: corpus-to-centroid assignment is a broadcast cross join collapsed by a partial_max_by aggregation INSIDE the scan partition — the exchange above it carries one row per corpus vector, never the NxC similarity relation (the row_number-window form shuffled N^1.5 rows at sqrt-N centroids). The window survives only on the tiny queries-x-centroids side (n_probe ranking).",
    "price_quantiles": "Exact per-group percentiles: ObjectHashAggregate partial/final around ONE exchange on the group key. Exact percentile buffers the group's values in the partial phase, so the exchange carries per-(partition, group) value buffers — acceptable at bounded group width; at high-cardinality groups or wide groups swap percentile for approx_percentile (fixed-size sketch buffers) without changing the topology.",
    "stratified_sample": "Deterministic per-stratum sample: row_number over (md5(id), id) executes as WindowGroupLimit Partial BELOW the exchange — each task forwards at most n rows per stratum, never the stratum's population.",
    "tfidf_top_terms": "TF-IDF: explode → (doc,term) counts → term df — all partial/final HashAggregates; unigram df joins back on the term key (broadcast when vocabulary-sized); corpus size N is a broadcast 1-row aggregate so the plan stays lazy; WindowGroupLimit bounds the per-doc top-k before its exchange.",
    "pmi_bigrams": "PMI collocations: one index-transform explode to bigram rows (no positional self-join), three map-side-combinable counts, min-count filter BEFORE the unigram joins — the rare-bigram tail never reaches the join.",
    "quality_zscores": "Group z-scores: ONE partial/final HashAggregate produces exact decimal sufficient statistics (Σx, Σx², n); the tiny per-group stats relation broadcasts back onto the rows — no window over the data, nothing sorted.",
    "hash_split": "Deterministic train/val/test split: a pure projection (md5-prefix string compares) — ZERO exchanges below the entry's tiny per-split count agg; the assignment itself never shuffles (pinned).",
    "sequence_pack": "Token-budget sharding: exactly ONE exchange (hash on the group key) feeding one Window (cumulative token sum in md5 order); groups pack in parallel; no Python anywhere (pinned).",
    "frame_sample": "Video frame sampling: the row-multiplying Generate (sequence+explode over n_frames) sits BELOW the MapInPandas kernel — the JVM fans out inside codegen, Python only sees already-fanned rows; at 10^9 videos the fan-out never crosses the Arrow boundary (pinned).",
    "dedup_survivors": "Embedding near-dup pairs → star-contraction CC → max_by survivor agg: bucketed self-join for pairs, per-round keyed joins inside the (pre-executed) contraction loop, final labels read back from checkpoints (ExistingRDD scans) and aggregated map-side on the component key — no cartesian, no re-derivation of the pair pipeline.",
    "fuzzy_dedup_corpus": "END-TO-END fuzzy dedup (LSH candidates → exact-Jaccard verify → CC → survivors → cleaned corpus): the verified edge relation is localCheckpoint-ed exactly ONCE between verification and CC, so the md5/LSH pipeline appears nowhere in this final plan — labels arrive as ExistingRDD scans, survivors as one max_by agg on the component key, the corpus rejoin as an equi-join on the doc id (pinned: no cartesian, no BNLJ, no Python).",
    "gopher_quality": "Gopher/RefinedWeb quality rules: ZERO exchanges — one Project of array/aggregate expressions (pinned). The top-n-gram pass binds the gram array once as a lambda variable (transform(array(g), g -> ...)); a column reference inside the per-element lambda would be re-inlined by Catalyst and turn the pass O(d²·n) — measured minutes instead of seconds at sf0.01.",
    "domain_cap": "URL canonicalization (pure regexp_replace chain) + per-domain cap: ONE exchange on the domain key with WindowGroupLimit running per-task BELOW it (pinned) — each task forwards at most n rows per domain, so the cap costs the same at any corpus size.",
    "pii_scrub": "PII redaction: zero-exchange regexp projection (pinned); per-pattern counts are taken on the same intermediate each replacement ran on, so counts and replacements cannot disagree.",
    "mixture_sample": "Deterministic mixture sampling: the md5-threshold keep decision is a zero-exchange projection (pinned) — per-source rates fold into one pass; same kept set on every run/partitioning/engine.",
    "boilerplate_lines": "Boilerplate-line removal: posexplode lines → line doc-frequency on a 64-bit xxhash key (map-side combinable, vocabulary-sized) → equi-join back on the hash → groupBy(doc) rebuild. Every exchange keyed (pinned); line TEXT moves only in the explode and the rebuild, never in the df aggregation.",
    "percentile_quality": "Per-group percentile gate: one aggregation exchange builds the groups-sized cut relation, which BROADCASTS back onto the rows (pinned) — the data side never reshuffles. approx_percentile is the drop-in at extreme group width.",
    "pack_materialize": "Pack materialization: the window assignment reuses sequence_pack's one exchange on the group key; the text payload then moves ONCE in the groupBy(pack key) concat. array_sort(collect_list(struct)) keeps the packer's (md5(id), id) order inside each pack.",
    "unigram_lm": "Unigram LM proxy: token explode → vocabulary-sized frequency agg → equi-join on the token key; N and V are a broadcast 1-row aggregate (the only BNLJ, pinned ≤ 1) — no driver-side count, plan stays lazy.",
    "paragraph_dedup": "C4-style cross-document paragraph dedup: the corpus-wide first-occurrence election is a map-side-combinable min_by AGGREGATE on the 64-bit paragraph hash — NOT a row_number window (pinned: no Window node), so a viral boilerplate paragraph partial-aggregates inside each scan task instead of forming one corpus-sized window partition; winners join back on (hash, id, pos) and the rebuild is one groupBy(doc) — paragraph text rides only the explode and the rebuild, never the election exchange.",
    "doc_chunk": "Sliding-window chunking: sequence-of-starts → slice → posexplode, a ZERO-exchange pure fan-out projection (pinned) — composes with any downstream partitioned write at any corpus size.",
    "semantic_dedup": "SemDeDup: the (id, cluster, v, nrm) assignment relation feeds three consumers (both self-join sides + the output join), so it is localCheckpoint-ed ONCE — the final plan reads ExistingRDD three times (pinned == 3) and the broadcast-centroid N×C cosine pass appears nowhere; intra-cluster pairs are a keyed equi-join on the cluster id (quadratic term bounded by cluster width, stride ≈ √N is the dial); the assignment subtree itself is pinned separately: one BNLJ (broadcast centroids), one hash exchange carrying one row per vector (partial_max_by), never N×C.",
    "incremental_dedup": "Cross-batch dedup (nightly snapshot vs accepted corpus): exact tier is a left_anti on DISTINCT 32-byte fingerprints (corpus text never moves); fuzzy tier equi-joins the batch's band keys against the corpus' band keys — new × existing, NEVER existing × existing, so the output is bounded by the batch's collisions — then verifies with exact Jaccard and anti-joins the matches away. All joins keyed (pinned: no cartesian, no BNLJ, no Python); at production scale the corpus' fingerprint and band relations are write-time artifacts, bucketed so the batch join is shuffle-free on the corpus side.",
    "bigram_lm": "Bigram LM fluency proxy: one guarded zip_with explode to transition rows, pair and context counts as map-side-combinable aggs joined back on their keys, V as the only BNLJ (broadcast 1-row vocabulary aggregate, pinned ≤ 1) — same lazy-totals discipline as unigram_lm; context counts derive from pair counts, so the corpus is tokenized exactly twice (transitions + vocabulary), never more.",
    "distinct_report": "Grouped cardinality report (exact twin shown; the production HLL++ tier is pinned separately): the sketch path partial-aggregates fixed-size sketches map-side — ONE exchange carrying one sketch per (task, group), no Expand, no second distinct pass — so the report is O(groups), not O(distinct values), at any corpus size.",
    "kmeans_train": "Deterministic Lloyd k-means (final round shown; earlier rounds are driver-collected k·dim centroid relations re-broadcast per iteration): per-round assignment is the broadcast-centroid max_by argmax (one keyed exchange row per vector, never N×k), centroid update is a posexplode (cluster, dim) mean with DECIMAL sums — exact, order-independent, so centroids are bit-stable across runs/engines and the rounding cascade cannot diverge over iterations.",
    "dsir_select": "DSIR importance resampling: the two hashed-unigram distribution relations stay B rows at any corpus size and the per-bucket log-ratio table BROADCASTS onto the doc-bucket counts (pinned); per-doc weights are exact integer sums (map-side combinable); the Gumbel top-n compiles to TakeOrderedAndProject — per-partition limit + single ordered take, never a global sort (pinned).",
    "robust_scale": "Median/IQR scaling: one aggregation exchange builds the groups-sized quartile relation (exact percentile buffers — approx_percentile is the extreme-width drop-in), which broadcasts back onto the rows (pinned) — same no-window topology as quality_zscores.",
    "event_anomaly": "Rolling anomaly z-scores: ONE exchange (hash on the entity key) feeds the window; the three trailing-frame aggregates (n, Σx, Σx² over integers) evaluate in a single Window node; everything else is projection (pinned). At 10⁹ users the exchange is the job and it is keyed on the natural entity.",
    "session_rollup": "Native session windows: MergingSessions aggregation with map-side partial merge — ONE keyed exchange carrying partially-merged sessions, not raw events (pinned); the same operator compiles to UpdatingSessions with watermark-bounded state on a stream.",
    "curation_pipeline": "End-to-end curation: gate + scrub + fingerprint + split are all projection over the scan; ONLY the dedup election exchanges data (min agg + join, both keyed on the 32-hex fingerprint, pinned ≤ 2 exchanges) — document text never crosses an exchange.",
    "two_stage_ann": "Two-stage retrieval: the Arrow projection kernel runs once per side; the coarse scan is a BroadcastNestedLoopJoin against the reduced queries (corpus unexchanged, pinned) scoring in the quantized integer space with per-side precomputed norms; the exact re-rank touches full vectors only for |Q|·coarse candidate rows via keyed joins.",
    "top_terms": "Per-group heavy hitters: explode → ONE map-side-combinable count aggregation keyed on (group, term) → WindowGroupLimit bounds the per-group top-k before its exchange (pinned) — vocabulary-sized exchanges, never corpus-sized.",
    "ccnet_buckets": "CCNet perplexity buckets: the LM-scoring topology, then tercile cuts by EXACT-INTEGER rank arithmetic over a per-language score histogram — the Window runs over the distinct-scores-sized histogram, never the corpus (pinned), and the languages-sized cut relation broadcasts back. Interpolated percentile() here flips boundary comparisons between engines (frac within an ulp of 1.0 when n-1 % 3 == 0).",
    "hard_negatives": "Hard-negative mining: brute topology (broadcast queries, BroadcastNestedLoopJoin — corpus unexchanged) with the label inequality as a pair-local filter; ranking is the only hash exchange (pinned).",
    "temperature_mixture": "Temperature mixture: one count aggregation to a groups-sized relation (its subtree prints twice — rates + n_min sides — but both are the identical exchange, collapsed by AQE reuse), rates broadcast back, keep decision a pure md5-threshold projection — the corpus never exchanges (pinned).",
    "sliding_rollup": "Sliding windows: the 4x overlapping-window fan-out is an Expand INSIDE the scan stage; the partial HashAggregate combines per (task, window) BEFORE the single keyed exchange, so the exchange carries aggregated window rows, never 4x the events (pinned).",
    "bm25_topk": "BM25 lexical retrieval: inverted-index topology — postings and df are keyed aggregates over one corpus tokenization each, the query-term relation BROADCASTS onto the postings (the corpus never reshuffles for the probe join), (N, total_tokens) ride as the single broadcast 1-row BNLJ with EXACT integer stats (a float avgdl would let a summation-order ulp shift every score), score sum keyed on (query, doc), WindowGroupLimit top-k per query (pinned).",
    "zorder_key": "Z-order clustering key: the min/max bounds relation is the one broadcast 1-row BNLJ; scaling is exact long arithmetic (multiply + integral div — bit-stable across engines) and the Morton interleave is a pure projection — ZERO hash exchanges on the data side (pinned). zorder_write adds the single range exchange + in-partition sort; read-back files carry disjoint Z-ranges (pinned), tight in EVERY interleaved dimension.",
    "data_profile": "One-pass table profile: every per-column metric (nulls, distinct, min, max) folds into ONE aggregate over ONE scan (pinned: a single parquet scan), then a stack unpivot reshapes the 1-row result — profiling k columns costs one pass, not k. The production tier swaps count_distinct for HLL++ sketches: no Expand, one exchange (pinned).",
    "event_transitions": "First-order Markov census: ONE hash exchange on user_id feeds the ordered lead window; transitions partial-aggregate map-side on the (from, to) pair key; the per-from totals window runs over the aggregated pair relation (states^2-sized), never the corpus.",
    "benford_audit": "Benford first-digit audit: digit from the string form (no float log bucketing) -> one (digit)-keyed partial/final HashAggregate; the global totals window runs over the 9-row digit census above the aggregate, so the single-partition exchange carries 9 rows, not the scan.",
    "hits_scores": "HITS hubs/authorities, 3 exact-integer rounds: each half-round is one keyed join + one sum off the edge relation, eagerly checkpointed once; the L-infinity renormalization references each round aggregate twice, so each half-round is collapsed to a lazy localCheckpoint (ExistingRDD scans here) - left lazy the logical plan doubles per half-round and OOMs in stringification alone by round 3.",
    "ngram_novelty": "Per-doc shingle novelty: the inverted-index backbone - explode distinct shingles, corpus df as a map-side-combinable aggregate on the 64-bit xxhash key, equi-join back on the hash, one per-doc aggregate. Shingle TEXT never crosses an exchange.",
    "lsh_calibration": "MinHash dial audit: signatures via the hash-once explode->min aggregation (one md5 per distinct shingle, BIGINT minima), band keys posexplode from the same signature relation, banded self-equi-join for candidates; signature compare and exact-Jaccard verify are candidate-sized keyed joins - full shingle arrays ride only to candidate pairs, never the banded join.",
    "classifier_calibration": "Reliability diagram: zero-exchange scoring projection -> ONE bin-keyed map-side-combinable aggregate (exact 1e-4-lattice sums); output is bins-sized, nothing else moves.",
    "mmr_diversify": "Greedy MMR: relevance scan (broadcast queries, corpus unexchanged) and the candidate-pair sim matrix compute ONCE into lazy checkpoints; each of the 4 greedy rounds is a keyed join + max aggregate + candidate-sized window over <= |Q|*shortlist rows - the recurrence is sequential by nature, so the design makes rounds trivial instead of parallel.",
    "kcore_nodes": "k-core peel: per round one map-side-combinable degree aggregate + two semi-joins keyed on the surviving endpoints; the edge relation collapses to a lazy checkpoint per round (referenced by aggregate AND joins - left lazy the plan doubles per round).",
    "last_touch": "Attribution: one exchange on user_id feeds the carry-forward window (last ignorenulls over preceding rows); the census and its share window run over the touch-type-sized aggregate, never the events scan.",
    "audio_chunks": "Audio windowing: sequence+explode fan-out inside whole-stage codegen over the stub-decoded duration; zero Python, zero exchanges below the noop write.",
    "image_tiles": "Tile grid: two nested sequence+explode generators (rows then cols) in codegen; the md5 tile keys are plain projections - zero exchanges.",
    "skipgram_pairs": "Windowed skip-gram PMI: pair generation is w zip_with-over-slices explodes in ONE flatten projection - never a positional self-join; min-count filter bounds the tail BEFORE the two vocabulary joins; totals ride 1-row broadcast BNLJs (pinned <= 2).",
    "skew_report": "Pre-join skew diagnostic: one map-side-combinable count aggregate on the key (the exchange the real join would pay), top-k as TakeOrderedAndProject (per-task top-k, no global sort), shares windowed over the k-row result only.",
    "fk_audit": "Referential-integrity audit: one left-anti join against distinct parent keys + two map-side aggregates - no row multiplication anywhere.",
    "psi_drift": "PSI drift monitor: one bin-keyed map-side aggregate per side, a bins-sized full-outer join, broadcast 1-row totals; Laplace smoothing keeps empty bins finite.",
    "quantile_normalize": "Quantile normalization: within-group rank window + broadcast 101-point exact-percentile grid - the textbook global-sort join replaced by an array lookup; no corpus-wide sort anywhere (pinned by absence of a SinglePartition sort).",
    "hilbert_key": "Hilbert layout key: 8-level struct fold per row over broadcast min/max bounds - a pure projection; the rotate/flip blends are arithmetic, so the whole walk stays inside whole-stage codegen.",
    "fertility_stats": "Tokenizer fertility census: ONE lang-keyed map-side-combinable aggregate of exact long sums; divisions happen on the 5-row result.",
    "vocab_drift": "Vocabulary drift: token explode per side, one (lang, token) left join against the distinct reference vocabulary, one lang-keyed census aggregate.",
    "interp_lm": "Interpolated LM: bigram_lm topology + one extra vocabulary-sized join (the unigram floor); totals as broadcast 1-row aggregates keep the plan lazy.",
    "random_walks": "Random-walk corpus: neighbor relation ranked once (one keyed exchange) and eagerly checkpointed; each step is ONE equi-join with the md5-mod pick inside the join condition; per-step state collapses to a lazy checkpoint (ExistingRDD scans).",
    "negative_sampling": "Negative-sampling table: one vocabulary aggregate, broadcast lattice totals, slot projection - correctly-rounded sqrts instead of libm pow keep it engine-exact.",
    "scd2_history": "Type-2 SCD build: ONE exchange on the key feeds BOTH windows (change-detect lag, validity lead/version) - the filter between them preserves partitioning and order, so no second sort or shuffle (pinned == 1 exchange); no join anywhere.",
    "kanon_census": "k-anonymity gate: one map-side-combinable census on the quasi key (exchange carries one row per class) + a class-count-sized re-aggregate pooling the under-k classes - a plain census at any corpus size.",
    "hybrid_retrieval": "Hybrid RRF fusion: both runs arrive top-k-bounded, union + ONE (query, doc) aggregate of exact lattice-div terms (no float summation), WindowGroupLimit re-rank - the fusion costs less than either input run.",
    "length_batches": "Static-shape batching: bucket/cap/shard/waste are pure projections; the ONLY exchange is the (bucket, shard) window numbering batches (pinned == 1) - batches never cross shards, so parallelism is num_shards per bucket, not 1.",
    "countmin_audit": "Count-min sketch: depth hashes fan out per row via posexplode INSIDE codegen (one scan, not a union of scans); the sketch aggregate's exchange is bounded at depth*width rows per task; the estimate side broadcasts the sketch - nothing corpus-sized shuffles twice.",
    "embedding_cov": "Covariance matrix: two chained generators produce the upper-triangle products per row; ONE pair-keyed aggregate whose exchange is bounded at d(d+1)/2 rows/task; dim sums and n attach by broadcast (pinned: no SortMergeJoin). The N*d^2/2 multiply-adds are the FLOPs floor of any Gram computation - the shuffle just doesn't grow with N.",
    "interval_join": "Interval-overlap join: both interval sets explode into covered buckets, equi-join on (key, bucket), exactly-once via the first-shared-bucket ownership predicate - never BroadcastNestedLoop, never post-join dedup.",
    "bpe_pairs": "BPE round-0 census: the corpus collapses to the (word, n) vocabulary first (training cost thereafter independent of corpus size); the pair census is one generator fan-out + one map-side-combinable aggregate.",
    "bloom_prune": "Explicit Bloom probe: k consecutive BROADCAST joins of the checkpointed <= ceil(m/63)-row word relation - the probed side reaches the AND projection with ZERO hashpartitioning exchanges (pinned); the build is one bit_or aggregate bounded by the filter size, not the key count.",
    "zipf_fit": "Zipf fit: census aggregate -> TakeOrderedAndProject top-200 (per-task top-k, no global sort) -> 1-row normal-equation aggregate on the 1e-9 ln lattice in DECIMAL(38,0).",
    "join_estimate": "Join size estimate: one per-key aggregate per side (map-side combinable), bucket rollups carry `buckets` rows, exact ground truth via the distinct-key-sized count join - the diagnostic costs a census, not the join.",
    "phrase_search": "Phrase search: positional postings from one generator fan-out; each extra phrase term is ONE equi-join on (doc, adjusted pos) between term-FILTERED posting slices (filters pushed to the scan) - join inputs are posting-list-sized, never corpus-sized.",
    "label_spread": "Label propagation: per round one neighbor-label equi-join + one vote aggregate keyed on the node + a WindowGroupLimit argmax; the label relation checkpoints per round (ExistingRDD here) so the plan cannot double per round.",
    "grouped_ols": "Grouped OLS: ONE map-side-combinable aggregate of exact DECIMAL(38,0) normal-equation sums on the 2-decimal lattice; slope/intercept/r2 are per-group projections over the groups-sized result.",
    "gap_fill": "Linear gap-fill: last-known-before and first-known-after frames share ONE key exchange and one sort; the blend is a projection - groupby-apply-interpolate with no Python and no per-key memory.",
    "rolling_med": "Rolling median: the trailing frame's collect_list buffer is bounded by window_rows (NOT the unbounded-window trap); one key exchange, one sort, one Window node.",
    "ab_welch": "Welch t-test: ONE map-side-combinable sufficient-statistics aggregate (exact decimal n/Sx/Sxx per variant) + per-group arithmetic over the groups-sized result.",
    "rbo_overlap": "RBO: one (query, doc) equi-join of two top-k-bounded runs + one query-keyed aggregate of exact integer rational weights; IEEE only in the final normalized division.",
    "fastss_pairs": "FastSS: deletion-neighborhood variants keyed by md5 (fixed-width join key, text never joins); ONE keyed self-join; Levenshtein verifies collisions only - exact distance-1 recall without all-pairs.",
    "deepwalk_pairs": "DeepWalk prep: the walk pipeline's per-step checkpoints are read once by BOTH sides of the walk_id-keyed pair self-join (bounded step-offset predicate); the pair census partial-aggregates map-side.",
    "feature_hash": "Hashing trick: token explode -> ONE (doc, bucket) map-side-combinable aggregate -> per-doc rebuild; no vocabulary pass, so feature ids are shard- and time-stable by construction.",
    "source_overlap": "Source contamination: distinct (source, shingle-hash) relation, hash-keyed self-join (cost = real cross-source collisions), per-source totals broadcast.",
    "phash_dedup": "Perceptual dedup: the ONLY Python is the Arrow dHash kernel (the decode stand-in); banding, the 4x16 equi-joins and bit_count verify are JVM - swap the kernel for PIL and the plan is unchanged.",
    "rendezvous_shards": "HRW sharding: the S-candidate argmax is a pure projection (md5 hex compares, no integer conversion) - zero exchanges below the census; growing S moves ~1/(S+1) of keys by construction.",
    "expectations": "Data contract: every rule folds into ONE map-side-combinable aggregate over ONE scan; the unpivot reshapes the 1-row result - 50 rules cost one pass.",
    "table_checksum": "Table fingerprint: commutative md5-lattice sum in DECIMAL(38,0) - one aggregate, order/partitioning/engine-independent; the cheap equality probe before snapshot_diff.",
    "ndcg_eval": "nDCG@10: the ANN run left-joins broadcast label-truth; DCG weights are 10^12 integer lattice literals (no query-time libm), per-query sums exact, one IEEE division.",
    "ann_recall": "Recall@k: two top-k-bounded runs, ONE (query, doc) equi-join, one query-keyed aggregate - the ANN quality dial costs less than either run.",
    "large_orders": "Q18 shape: the quantity rollup runs FIRST (map-side combinable on the orderkey), joins see only qualifying keys, customer broadcasts - aggregate-then-join, never join-then-aggregate.",
    "brand_share": "Market share: one keyed rollup (part broadcasts onto the fact), then the share window runs over the 25-row brand relation in exact DECIMAL - the single-partition window carries brands, never lineitem.",
    "top_paths": "Journey census: order restored INSIDE the per-user aggregate (array_sort over structs - correct under any partitioning), path census map-side combinable, TakeOrderedAndProject top-k.",
    "histogram2d": "2-D histogram: cell assignment is a projection over the broadcast (or literal) bounds; ONE map-side-combinable aggregate whose exchange carries <= x_bins*y_bins rows per task.",
    "order_dist": "Q13 shape: orders aggregate BEFORE the outer join (one keyed map-side-combinable exchange), so the join carries |customers| rows instead of |orders|; the census aggregate's exchange is bounded by the count domain.",
    "returned_items": "Q10 shape: quarter predicate pushed to the orders scan; per-custkey rollup map-side combinable; customer+nation broadcast onto the rollup; top-20 is TakeOrderedAndProject on the EXACT decimal revenue (rounding only above the limit).",
    "untapped_customers": "Q22 shape: 1-row balance stats broadcast; the above-average cut decided in DECIMAL (bal*n > sum, no double division); 'no recent order' is a BROADCAST LEFT ANTI on the distinct recent-buyer set - the customer table never shuffles.",
    "small_qty_revenue": "Q17 shape: per-part stats are the ONLY keyed exchange; the stats rejoin broadcasts back onto the second brand-pruned scan; the 0.2*avg threshold is decided in DECIMAL (qty*5*n < sum) so membership is engine-exact.",
    "disjunct_revenue": "Q19 shape: the part-only implication of the OR-of-ANDs (brand+size) reaches the part scan as PushedFilters; the full three-way disjunction stays as the broadcast join residual.",
    "grouping_sets_census": "Arbitrary GROUPING SETS: ONE Expand (4x fan-out before the partial aggregate, map-side combinable) and ONE keyed exchange - four grouping sets never become four jobs.",
    "window_suite": "Seven ranking/navigation functions share one (partition, order) spec -> Catalyst fuses them into a SINGLE Window node over a single exchange; adding a function costs a column, never a shuffle.",
    "ewma_revenue": "EWMA on an exact 2^k integer lattice: the fact collapses to the day rollup FIRST (both rollup subtrees are the only scans); the <=20-day weighted band is a deliberate broadcast nested-loop over the day-sized relation; the final per-day aggregate reuses the rollup's partitioning (alias-aware - no third exchange); the 4dp round happens in BIGINT.",
    "mad_outliers": "Median/MAD/3-MAD fences: the k-row median relation is eagerly checkpointed so the events table scans exactly TWICE (MAD pass + fence pass); every stats rejoin is a broadcast hash join; exchanges exist only under the tiny per-type aggregates.",
    "ledger_balance": "Clamped ledger: the non-linear max(0, b+delta) recurrence as a per-key sorted-array fold in exact integer cents - windows give plain sums, path-dependent state needs the fold; ONE exchange (the per-user collect).",
    "active_users": "DAU/WAU/MAU: corpus collapses ONCE to distinct (day,user); each trailing window is a bounded band self-join of that day-sized relation feeding an exact distinct count - never a sliding DISTINCT over raw events.",
    "seasonal_index": "Seasonal indices: centered 7-day trend via the bounded band join over the day rollup; ratio-to-trend on a 1e6 integer lattice so per-weekday means are exact integer sums.",
    "mix_entropy": "Language-mix entropy: one contingency census; the -sum(p*log2 p) fold runs in sorted order (engines' ln agrees term-by-term only) with ln(2) pinned to its literal double.",
    "gini_revenue": "Gini: one fact rollup + one rank window over the customer relation; G computed from three exact integers (n, sum x, sum i*x) - tie permutations provably value-invariant.",
    "windowed_funnel": "Conversion-window funnel: the |users|-sized cascade of funnel_steps with the 48h bound as one extra exact timestamp comparison inside each keyed join - no window functions, no re-scan per step pair.",
    "cuped_lift": "CUPED: one sufficient-statistics aggregate (exact decimal n/Sx/Sy/Sxy/Sxx) broadcast as a 1-row relation; adjusted means are pure arithmetic over exact sums - the variance-reduced readout costs one extra aggregate over ab_welch's topology.",
    "chi2_independence": "Chi-square: three rollups of ONE contingency census (cell, row, column totals as window sums over the cells relation); per-cell (N*O-r*c)^2/(N*r*c) over exact integers; the cell sum folds in sorted order so the statistic is engine-identical.",
    "mann_whitney": "Mann-Whitney U: pooled rank window + tie census per event type (doubled average ranks keep rank sums exact integers); only the events relation shuffles, only on the event-type key; tie-corrected z from exact integer factors.",
    "asof_forward": "Forward as-of: the same join-free union+window plan as asof_join, ordered DESCENDING so last(ignorenulls) carries the NEXT right value backward - one key exchange, no join operator.",
    "forecast_backtest": "Seasonal-naive backtest: day rollup first (one keyed map-side-combinable exchange), lag-7 window over the DAY relation, per-day error ratios on a 1e6 integer lattice so the month sums are exact integers.",
    "kaplan_meier": "Kaplan-Meier: per-user rollup is the only fact-sized job; the distinct-day census and risk window run over day-sized relations; the survival product folds left-to-right over the sorted times array (fixed association order - engine-identical doubles).",
    "identity_clusters": "Identity resolution: blocked Levenshtein linkage emits edges, connected components assigns canonical ids off a checkpointed edge relation - the fuzzy_dedup composition applied to entity identity; propagation rounds never re-execute the linkage pipeline.",
    "attribution_removal": "Removal-effect attribution: journeys truncate at first conversion (running-count window), ONE transition census + ONE start census are the only corpus-sized jobs; the K-step absorption solve runs on the collected states^2 matrix (kmeans-centroid discipline) in exact 1e12-lattice integers - bit-identical across engines and reruns.",
    "skyline_parts": "Skyline (Pareto frontier): NOT the O(n^2) dominance self-join - prices collapse to per-price groups (one keyed exchange), a running-min window over the group relation yields the strictly-cheaper minimum, dominance is two exact comparisons, and the frontier rejoin broadcasts. Sort-based O(n log n); pinned equal to brute dominance by test.",
    "metrics_melt": "UNPIVOT (wide to long): Catalyst plans the melt as an Expand over the SEGMENT-sized rollup - k-fold fan-out of a tiny relation, zero additional exchange beyond the one keyed rollup.",
    "daily_spine": "Calendar spine: sequence+explode off the 1-row bounds aggregate generates the day relation JVM-side (corpus-independent size); the day-rollup join broadcasts; zero-activity days become rows BEFORE the monthly rollup, so missing-day counts are first-class.",
    "rfm_segments": "RFM: one o_custkey rollup exchange on the fact; the three quintile windows sort the CUSTOMER rollup (deliberate single-partition over the small relation; the 1e9-customer swap is a percentile-threshold grid join); custkey tiebreaks make every cut deterministic.",
    "revenue_concentration": "80/20 audit: one keyed rollup on the fact; the decile cut runs over the customer rollup, the share/cumulative windows over the 10-row decile relation - DECIMAL end to end, doubles only in the projection.",
    "order_gap_stats": "Purchase cadence: lag window over (custkey, date) pairs - one keyed exchange of the slim projection, never full orders rows; per-segment percentile rollup; customer broadcast.",
    "bitext_mine": "Margin-criterion bitext mining: the scored candidate relation (cosine cross join, side B broadcast - at web scale swap in the seeded-LSH banded candidate stage) is checkpointed ONCE and read back three times (per-side k-NN stats + best match); cosines live on a 1e4 integer lattice so the k-NN denominators are exact integer sums and the margin cut is an exact integer comparison.",
    "containment_pairs": "Asymmetric containment (quote/excerpt detection): same inverted-index self-join as jaccard_pairs — keyed on (block, xxhash64(shingle)), SMJ with the shared exchange reused, pair counts as an aggregate — but with NO size-ratio prune (a tiny doc fully contained in a huge one is the signal Jaccard misses). The hot-shingle df-cutoff is ON (the only scale dial beyond blocking, since no size prune is possible): the per-(block, shingle) df window count reads the SAME exchange the SMJ self-join shuffles on, and |A∩B| stays exact via the hot-set correction left-joins above the pair aggregate (pinned: keyed join only, no BNLJ). The salt_df/salt_buckets hot-key fallback (same exactly-once bucketed second join as jaccard_pairs, output pinned identical) matters MOST here since no size prune exists.",
    "snapshot_diff": "Snapshot diff (what did last night's load change): null-safe md5 row fingerprints are map-side projections on each scan; the ENTIRE diff is one full-outer SortMergeJoin on the business key (pinned == 1) — the minimum any keyed two-corpus comparison can pay; with key-bucketed snapshots even that exchange vanishes. Status classification is a projection; the counts rollup partial-aggregates 4 rows per task.",
    "sq_quantize": "SQ8 scalar quantization: per-dim min/max from one keyed aggregate (exchange carries <= dim rows), pivoted to two dim-length arrays and BROADCAST (the single 1-row BNLJ, pinned); encode and midpoint-decode error are zero-exchange array-transform projections — the quantizer trains in one pass and applies map-side, which is what a write-time re-encode of 10^9 vectors needs. Exact IEEE arithmetic both engines (no summation in the bounds), 4dp rounding on the error fold only.",
    "pq_encode": "Product quantization: the md5-sampled k-vector codebook is the single broadcast 1-row BNLJ; the per-subspace argmin over k centroids is a NESTED JVM array fold — a zero-exchange projection with NO Generate (pinned): the exploded N×k×m relation (128× the corpus at these dials) never exists; encode is embarrassingly parallel over the scan and a Lloyd-trained codebook from operators/kmeans.py drops in without changing the topology. The DuckDB twin IS the exploded relation — affordable at oracle sf, which is exactly the cross-check the projection form needs.",
    "numeric_histogram": "Equal-width histogram: observed bounds are a broadcast 1-row relation, bin assignment a projection, and the count one map-side-combinable aggregate keyed on the bin id — the exchange carries <= bins rows per task at any corpus size.",
    "record_linkage": "Record linkage: candidate pairs from a keyed equi-join on the block columns (the quadratic term is bounded by the largest block — blocking IS the scale contract, pinned: no cartesian); Levenshtein field similarities are pair-local JVM projections streaming through codegen, and the per-record best match is WindowGroupLimit below its exchange. Exact edit-distance tier — swap in a cheap per-field prefilter (length bands, shared-token gate) inside the join condition when blocks run hot.",
    "quality_classifier": "Logistic quality classifier: model inference as a map-side concern — weights are constants (a broadcast relation when they come from a training job), features are the shared JVM text expressions, sigmoid is one exp; the plan has NO exchange of any kind (pinned). Swapping trained coefficients changes a dict, not the topology.",
    "nation_volume": "Q7-shape nation volume: supplier and customer BROADCAST (pinned >= 2 BHJs), the fact-side lineitem-orders join stays keyed, the either-direction nation-pair predicate is a pair-local filter, revenue sums in exact decimal.",
    "top_supplier": "Q15-shape max-revenue supplier: per-supplier decimal revenue aggregate; the scalar max rides as a broadcast 1-row aggregate and Catalyst turns the equality filter into a BroadcastHashJoin on the normalized value — no global Window over the revenue relation, no driver action (pinned).",
    "funnel_steps": "Strict ordered funnel: per-step first-occurrence minimums chained by keyed joins carrying the ts > prev condition — after the first aggregate every relation is |users|-sized; the three step counts are 1-row aggregates unioned.",
    "cohort_retention": "Cohort retention: first-touch aggregate + distinct (user, day) activity relation + ONE keyed join; day offsets are exact epoch-day integer arithmetic (unix_micros div 86400e6) — no calendar functions for engines to disagree on.",
    "epoch_shuffle": "Deterministic epoch shuffle: md5(epoch:id) is both the shard key and the within-shard order — placement is a projection, the one exchange keys on the shard id, and the sorted-shard write leads its sort with the partition column so the writer's own sort requirement cannot destroy the permutation. No RNG state anywhere; same epoch order on any engine/partitioning.",
    "props_extract": "Semi-structured extraction: get_json_object parses inside the projection (no flatten pass, no Python); the rollup is one keyed count aggregate — JSON parsing rides the scan at any corpus size.",
    "triangle_count": "Exact triangle census with DEGREE ORIENTATION (Suri-Vassilvitskii): orienting each edge from the (degree,id)-smaller endpoint caps every wedge fan-out at O(sqrt m), so the wedge relation is O(m^1.5) worst-case instead of sum-of-degree-squares — the last-reducer hub problem is designed out; every join keyed, the closing edge a semi-join, counts map-side combinable. The entry scopes to quarter-orders because the UNSCOPED wedge term measured 4x the cost — the bound being load-bearing is the demonstration.",
    "dataset_card": "Dataset-card rollup: token counts and quality are the shared JVM feature projections; ONE keyed aggregate with decimal-exact quality sums — the exchange carries languages-sized partials, never documents.",
    "pq_topk": "ADC ranking over PQ codes: each query's m x k subspace-distance table is computed ONCE against the broadcast codebook (queries x codebook, tiny) and broadcast; corpus scoring is m element_at lookups per row over the 32x-smaller codes relation — a zero-shuffle projection; per-query top-k is WindowGroupLimit. Corpus vectors are never read at query time.",
    "pq_search": "Production PQ retrieval: the lossy ADC ranking generates a SHORTLIST (top-100 per query over codes), then exact L2 re-ranks only |Q| x 100 candidate rows against real vectors (broadcast queries, keyed candidate join; the default codebook is collected once as a model-sized local relation so its seed-sample subtree cannot execute twice). Recall@5 >= 0.9 pinned; pure ADC ranks ~0.3 on this corpus — the re-rank stage IS the design.",
    "budget_select": "Token-budget cut: ONE per-group cumulative-sum window (order by signal DESC, id), budget filter as a post-window projection. Cannot WindowGroupLimit (the cut depends on the running SUM, not a rank) so the exchange carries full groups — the documented contrast with stratified/weighted_sample; one-straddler overshoot relaxation, same as pack_sequences.",
    "rank_fusion": "Rank fusion: every percent-rank window shares the SAME partition key, so Catalyst plans ONE hash exchange and stacks sort+Window pairs on it (pinned: 1 exchange for 2 signals) — adding a signal adds a local sort, never a shuffle. Ranks over (signal, id) total orders make percent_rank exact across engines.",
    "script_profile": "Unicode-script census: five regexp_replace+length projections (one per script class) over the scan — zero exchanges, no Python; the dominant-script election is a CASE chain with a fixed precedence tie-break (engine-portable, unlike an array_max over structs).",
    "session_transcript": "Order-preserving assembly: ONE keyed exchange (groupBy user) with partial aggregation; the turn order is restored INSIDE the aggregated value by array_sort over (ts, event_id, text) structs — deterministic under any partitioning, where orderBy-then-collect_list is neither guaranteed nor cheaper (it adds a full sort exchange).",
    "blame_supplier": "Q21-shape double correlation: EXISTS -> LeftSemi and NOT EXISTS -> LeftAnti, both KEYED on l_orderkey with the suppkey inequality as join-condition refine (never a cartesian); orders and supplier broadcast; one final count aggregate.",
    "ppr_expand": "Personalized PageRank: identical per-round topology to pagerank (one keyed join + one sum off the checkpointed edge relation); the seed mask is a flag column on the checkpointed nodes relation — built with one left join at setup, ZERO per-round cost for personalization.",
    "rank_weighted_sample": "PageRank -> weighted-sample composition: the lazy rank loop runs once inside the selection job, then selection is a priority projection + one global WindowGroupLimit top-50 (each task pre-limits to 50 rows, so the single-partition final window receives 50 x tasks rows, not the corpus). Both stages are bit-deterministic, so the composition is too.",
    "weighted_sample": "Weighted deterministic sampling: priority = exact md5 integer / weight — IEEE division is correctly rounded, so the draw is bit-identical across engines (ln/pow A-ES keys are not); selection probability is proportional to weight in the small-fraction regime (the 5/6-vs-3/4 large-fraction bias is pinned by test). One projection + the same WindowGroupLimit top-n-per-stratum shape as stratified_sample: the exchange carries n rows per stratum per task, never the stratum.",
    "pagerank": "Integer fixed-point PageRank: the (src, dst, outdeg) and node relations are eagerly checkpointed once and read in each of the 5 rounds (ExistingRDD scans, pinned); a round is ONE equi-join on src + ONE sum aggregate on dst — state never exceeds one long per node, nothing quadratic. Exact long arithmetic on a 10^12 lattice makes the result bit-identical across engines/partitionings — float PageRank loses to summation order in round 2.",
    "ivfpq_search": "IVF-PQ (FAISS IVFx,PQy shape): corpus prep computes (cell, codes) in ONE zero-exchange projection against two broadcast 1-row models (coarse cells + codebook); the probe stage is a cell-keyed BroadcastHashJoin against the exploded (query, probed-cell) list — candidates are n_probe/n_cells of the corpus, never all of it (at write time: a cell-partitioned codes table makes this a pruned scan); ADC shortlist is WindowGroupLimit; exact L2 re-rank reads vectors for candidates only. Full-probe == pq_search equivalence and clustered-data recall >= 0.9 pinned; the near-uniform testdata embeddings are the documented adversarial case for coarse pruning.",
    "repeated_spans": "ExactSubstr-style span removal (fixed-L window relaxation of the suffix-array spans): per-position md5(L-gram) projection, ONE gram-keyed exchange for the count + packed-integer min winner election (map-side combinable), occurrences x repeated-grams equi-join on the 16-byte hash, covered-position fan-out + rebuild keyed on the doc id — gram TEXT never crosses an exchange, document text rides only the first projection and the final rebuild join; nothing quadratic (pinned).",
    "market_share": "TPC-H Q8 analogue (round 11): six BroadcastHashJoins stack the dimensions onto ONE lineitem scan — the fact table shuffles exactly once, for the year aggregate; the conditional NATION_3 numerator folds into the SAME HashAggregate as the denominator (one pass, no self-join); region/type filters push into their dimension scans.",
    "product_profit": "TPC-H Q9 analogue (round 11): part's LIKE filter pushes into the part scan (StringContains in PushedFilters, pinned) and broadcasts with supplier+nation; one SMJ against orders carries the fact; profit aggregates per (nation, year) with map-side partials.",
}

# Plans not reachable through queries() verbatim: built by a callable.
CUSTOM = {
    "dedup_clusters_one_round": (
        "ONE min-label-propagation round (the dedup_clusters entry loops this "
        "to a fixpoint with eager localCheckpoints, so the per-round plan is "
        "the scalable unit): neighbor-label join + min aggregation + fold "
        "join, every exchange keyed on the vertex id — no cartesian anywhere; "
        "the edge relation is checkpointed once outside the loop.",
        None,  # filled in main() — needs the session
    ),
}


def _star_round(spark, sf_dir):
    from pyspark.sql import functions as F

    from m3d_engine_spark.operators.graph import _large_star, _small_star
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    down = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") % 97).alias("b")
    ).filter(F.col("a") > F.col("b"))
    return _small_star(_large_star(down))


def _dedup_clusters_one_round(spark, sf_dir):
    from pyspark.sql import functions as F

    from m3d_engine_spark.operators.graph import propagation_round
    from m3d_engine_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("a"),
                        F.col("doc_id").alias("component"))
    edges = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") % 97).alias("b")
    )
    return propagation_round(edges, nodes)


def main() -> int:
    spark = build_session(
        app_name="plan-report",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4", "spark.ui.enabled": "false"},
    )
    sf_dir = "/root/testdata/sf0.001"
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by `tools/gen_plans.py` at sf0.001 (plan shape is",
        "sf-independent; AQE leaves `isFinalPlan=false` markers since no",
        "action ran). Each section states the property the plan must show;",
        "`tests/test_plans.py` pins the load-bearing ones.",
        "",
    ]
    sections = [
        (name, note, lambda s, d, n=name: m.queries()[n](s, d))
        for name, note in HEADLINERS.items()
    ]
    sections.append(
        ("dedup_clusters_one_round", CUSTOM["dedup_clusters_one_round"][0],
         _dedup_clusters_one_round)
    )
    sections.append(
        ("star_contraction_one_round",
         "One large-star + small-star round of the O(log² n) connected-"
         "components contraction (graph.py): directed hi→lo edges in, "
         "directed hi→lo edges out — per round two HashAggregates and two "
         "joins, all keyed on a vertex id; no re-symmetrize union+distinct "
         "between rounds and no cartesian anywhere.",
         _star_round)
    )
    for name, note, build in sections:
        df = build(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        # Captured plans can embed raw control bytes (e.g. the \x1f /
        # \x00 fingerprint sentinels inside checksum literals), which
        # make grep treat the whole file as binary — render them as
        # visible escapes so PLANS.md stays text-greppable.
        plan = "".join(
            ch if ch in "\n\t" or ord(ch) >= 32 else f"\\x{ord(ch):02x}"
            for ch in plan
        )
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    spark.stop()
    print(f"wrote PLANS.md ({len(sections)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
