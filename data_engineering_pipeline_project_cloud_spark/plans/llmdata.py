"""LLM-training-data pipeline queries (SURVEY.md §7 M6) over the
``documents`` and ``embeddings`` tables.

Every operator here is oracle-checked: hashing is the portable
md5-based ``portable_hash64`` so DuckDB reproduces signatures exactly
(see functions/scalar.py).  The oracle SQL mirrors the Spark
higher-order-function expressions with DuckDB list lambdas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..frames import local_frame
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import textstats as tx
from ..sources import load_table
from .scratch import scoped_scratch

MINHASHES = 8
BANDS = 4
QUERY_VEC_IDS = list(range(10))
TOPK = 5
NEARDUP_T = 0.4
NEARDUP_PLANES = 4
IVF_CELLS = 16
IVF_NPROBE = 2
SIMHASH_BITS = dd.SIMHASH_BITS
SIMHASH_BAND_BITS = dd.SIMHASH_BAND_BITS
MAX_BUCKET = 1000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table, redistributed across the cluster.

    The test corpus is one small parquet file = ONE input split, which
    would serialize every per-document op onto a single core.  At real
    scale the corpus is thousands of splits and this repartition is a
    no-op by comparison; here it is what makes the hash/shingle work
    use all cores.  Hash-distributing by doc_id keeps it deterministic.
    """
    n = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "documents").repartition(n, "doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings table, redistributed across the cluster — the
    ``_docs`` treatment for the vector faces (r12): the test corpus is
    one small parquet file = ONE input split, which serialized every
    per-vector HOF pass (dim-wide dot/norm/quantize per candidate
    pair) onto a single core.  Used by the faces whose cost is
    per-row vector math over the WHOLE corpus (brute-force cosine,
    LSH bucketing, Gram/PCA statistics); the indexed ANN faces
    (ivf/pq) keep the raw table — their query lookup needs id
    pushdown into the single-file scan, and their corpus-shaped work
    lives in the at-rest index."""
    n = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "embeddings").repartition(n, "vec_id")

#: portable_hash64(x) in DuckDB SQL (same construction as
#: functions/scalar.py: first 15 hex chars of md5 → 60-bit BIGINT).
_H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"
_SHINGLES = f"""
    list_transform(
        generate_series(1, greatest(len({_TOKENS}) - 2, 1)),
        i -> concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1], {_TOKENS}[i+2]))
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_docs(spark, sf_dir))


def duplicate_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN detection (round 6): winnowed fingerprints
    (SIGMOD'03 winnowing — min hash per sliding window of rolling
    char-8-gram hashes) joined across documents, pairs sharing ≥2
    selected prints — the scalable approximation of suffix-array
    substring dedup (Lee et al., ACL 2022).  Ubiquitous-print buckets
    are capped before pairing (operators/dedup.py:
    duplicate_span_pairs), so the join is bounded-bucket², never
    all-pairs.  The oracle replays the identical selection + pairing
    relationally (portable md5 prints).  Parameters are tuned to this
    corpus (short small-vocabulary docs): 16-char grams / window 8 →
    the guarantee covers shared spans ≥ 23 chars, ≥ 4 shared prints
    required."""
    return dd.duplicate_span_pairs(_docs(spark, sf_dir),
                                   gram_chars=16, window=8,
                                   min_shared=4, max_bucket=16)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_signatures(_docs(spark, sf_dir),
                                 num_hashes=MINHASHES)


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded buckets
    → candidate pairs → exact shingle-Jaccard verification.  This is
    the PRODUCTION face (xxhash64 signatures — cheapest per shingle;
    rows-only driver check since JVM hashes have no SQL oracle); the
    bit-identical-by-construction variant with a full DuckDB oracle is
    ``dedup_minhash_pairs_checked``.

    Candidate generation is single-pass (one groupBy collects each
    bucket's capped member array and pairs are generated map-side —
    operators/dedup.py:lsh_candidate_pairs), so the signature pipeline
    has exactly one consumer and needs no materialization; the pair
    table itself is materialized inside ``jaccard_pairs`` (it feeds
    the two semi-joins + the final join)."""
    docs = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, num_hashes=MINHASHES,
                                 hash_fn="fast")
    pairs = dd.lsh_candidate_pairs(sigs, num_hashes=MINHASHES, bands=BANDS,
                                   max_bucket=MAX_BUCKET)
    return dd.jaccard_pairs(docs, pairs)


def dedup_minhash_pairs_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked MinHash-LSH pipeline: portable md5 signatures and
    raw-signature band keys, so every stage — signatures, banding,
    candidate generation, Jaccard verification — is reproduced exactly
    by the DuckDB oracle SQL.  Same operators, same plan shape as the
    production face; only the hash family differs."""
    docs = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, num_hashes=MINHASHES,
                                 hash_fn="portable")
    pairs = dd.lsh_candidate_pairs(sigs, num_hashes=MINHASHES, bands=BANDS,
                                   band_key="raw", max_bucket=MAX_BUCKET)
    return dd.jaccard_pairs(docs, pairs)


DUP_CLUSTER_T = 0.5  # verified-Jaccard cut for transitive clustering


def _checked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, num_hashes=MINHASHES,
                                 hash_fn="portable")
    cand = dd.lsh_candidate_pairs(sigs, num_hashes=MINHASHES, bands=BANDS,
                                  band_key="raw", max_bucket=MAX_BUCKET)
    return dd.jaccard_pairs(docs, cand, threshold=DUP_CLUSTER_T)


def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: the oracle-checked MinHash-LSH pipeline's
    verified pairs at Jaccard ≥ 0.5, closed under transitivity with
    iterative min-label connected components
    (operators/dedup.py:connected_components).  The full chain —
    signatures → banding → verify → clustering — is reproduced by the
    DuckDB oracle's recursive CTE, so the iterative DataFrame algorithm
    gets a hard differential check."""
    cc = dd.connected_components(_checked_pairs(spark, sf_dir))
    return cc.select(F.col("node").cast("long").alias("doc_id"),
                     F.col("cluster_id").cast("long").alias("cluster_id"))


def dedup_corpus_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one canonical dedup over the whole corpus: every document
    labeled with its near-dup cluster, the cluster size, and whether
    it survives (smallest id per cluster; singletons survive).  The
    downstream training-data corpus is ``WHERE is_kept``."""
    docs = _docs(spark, sf_dir)
    return dd.dedup_keep_one(docs, _checked_pairs(spark, sf_dir))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-based near-dup: candidate pairs from a cheap block key
    (lang, token-count bucket), verified with shingle Jaccard ≥ 0.2.
    The blocked self-join is the scale pattern when LSH recall is not
    needed: block key bounds the quadratic blow-up."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim("text"), r"\s+")
    blocked = docs.select(
        "doc_id", "text", "lang",
        F.floor(F.size(toks) / F.lit(16)).cast("int").alias("len_bucket"))
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.len_bucket") == F.col("b.len_bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
    )
    return dd.jaccard_pairs(docs, pairs, threshold=0.2)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucketed SimHash near-dup pairs (60-bit fingerprints,
    6 × 10-bit bands), Hamming-verified."""
    return dd.simhash_pairs(_docs(spark, sf_dir), bits=SIMHASH_BITS,
                            max_hamming=3, max_bucket=MAX_BUCKET)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.text_stats(_docs(spark, sf_dir))


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.language_id(_docs(spark, sf_dir))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_docs(spark, sf_dir))


def scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.scrub_text(_docs(spark, sf_dir))


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.normalize_text(_docs(spark, sf_dir))


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_count(_docs(spark, sf_dir))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_docs(spark, sf_dir))


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup behind LSH blocking: candidates share a
    portable random-hyperplane bucket, verified by exact cosine >= 0.4
    (threshold sits just under the corpus's natural ceiling so real
    near-neighbors surface at every sf).  The blocked form is the
    100 TB registry shape — the exact all-pairs verify-only operator
    remains available as ``operators.similarity.cosine_neardup_pairs``
    for post-blocking candidate sets."""
    return sim.blocked_neardup_pairs(
        _emb(spark, sf_dir), threshold=NEARDUP_T,
        num_planes=NEARDUP_PLANES)


def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (probes the query bucket + all Hamming-1
    neighbors) — no oracle; recall-vs-single-probe pytest-asserted."""
    return sim.lsh_ann_topk(
        _emb(spark, sf_dir), QUERY_VEC_IDS, k=TOPK,
        multiprobe=True)


#: Fitted IVF codebooks, keyed by (sf_dir, n_cells) → collected rows
#: [(cell_id, [float, ...]), ...].  At scale the codebook is an offline
#: artifact fit once and reused by every query; this memo mirrors that:
#: the first registry/bench invocation pays the k-means fit, later ones
#: rebuild the (n_cells × dim doubles — tiny) literal DataFrame.
_IVF_CODEBOOKS: dict[tuple[str, int], list[tuple[int, list[float]]]] = {}


def prefit_ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit (or fetch memoized) the IVF k-means codebook for a dataset —
    the public offline-index-build face; bench.py calls it in warmup so
    the timed query measures probe + pruned rank, not the fit."""
    key = (sf_dir, IVF_CELLS)
    if key not in _IVF_CODEBOOKS:
        emb = load_table(spark, sf_dir, "embeddings")
        # persist the normalized vectors: the fit replays them several
        # times (dim probe + per-iteration assign/aggregate/collect),
        # each of which would otherwise rescan + renormalize parquet
        embn = scoped_persist(sim.with_unit_vectors(emb))
        cents = sim.kmeans_centroids(embn, IVF_CELLS, iters=2,
                                     assume_unit=True)
        _IVF_CODEBOOKS[key] = [
            (r["cell_id"], list(r["centroid"])) for r in cents.collect()]
    return local_frame(
        spark,
        _IVF_CODEBOOKS[key], schema="cell_id long, centroid array<double>")


def prefit_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or fetch) the at-rest IVF inverted file: the unit-
    normalized corpus tagged with its coarse cell, written
    ``partitionBy(cell_id)`` — the offline index job every production
    IVF deployment runs (r11: the same at-rest treatment
    ``prefit_ivfpq_index`` gave the IVF-PQ face in r7).  bench.py
    calls this in warmup alongside the codebook prefits, so the timed
    query measures probe + pruned rank, not normalize + assign."""
    cents = prefit_ivf_codebook(spark, sf_dir)

    def build(path: str) -> None:
        embn0 = sim.with_unit_vectors(
            load_table(spark, sf_dir, "embeddings"))
        (sim._assign_cells(embn0, F.broadcast(cents), "vec_id",
                           "embedding", assume_unit=True)
         .repartition("cell_id")
         .write.mode("overwrite").partitionBy("cell_id").parquet(path))

    return scoped_scratch("ivf_index", sf_dir, build)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (scale path #2 next to LSH) — no oracle;
    recall + cosine-exactness pytest-asserted.  The k-means codebook
    AND the inverted file are offline index artifacts built once per
    sf_dir (r11; previously only the codebook was — the face re-paid
    corpus normalize + corpus × codebook assignment per run), so the
    per-query cost is probe + partition-pruned rank only, matching
    the IVF-PQ face's at-rest shape."""
    idx = prefit_ivf_index(spark, sf_dir)
    return sim.ivf_ann_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=TOPK,
        n_cells=IVF_CELLS, nprobe=IVF_NPROBE,
        centroids=prefit_ivf_codebook(spark, sf_dir),
        assigned=spark.read.parquet(idx))


PQ_M = 4          # subspaces
PQ_K = 16         # centroids per subspace (codes fit a nibble)
#: per-(sf_dir) PQ codebooks — like _IVF_CODEBOOKS, the offline
#: artifact a PQ index build ships; m·k·(dim/m) doubles, tiny
_PQ_CODEBOOKS: dict[tuple[str, int, int], list] = {}


def prefit_pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Fit (or fetch memoized) the product-quantization codebooks —
    m per-subspace k-means over the UNIT-NORMALIZED corpus, so the
    ADC distance ranks by cosine (for unit vectors,
    ||q-x||² = 2 - 2·cos)."""
    key = (sf_dir, PQ_M, PQ_K)
    if key not in _PQ_CODEBOOKS:
        emb = load_table(spark, sf_dir, "embeddings")
        embn = scoped_persist(sim.with_unit_vectors(emb))
        # 1 Lloyd iteration for the registry fit: each extra iteration
        # costs m fresh assign+aggregate+collect plans (heavy codegen
        # per subspace), while end recall is carried by the ADC
        # shortlist + exact rerank, not codebook polish — the
        # iterate-to-convergence fit is an offline-index concern
        _PQ_CODEBOOKS[key] = sim.pq_codebooks(embn, m=PQ_M, k=PQ_K, iters=1)
    return _PQ_CODEBOOKS[key]


PQ_NPROBE = 4  # coarse cells ADC-scanned per query (of IVF_CELLS)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (scale path #3, round 7: the FAISS ``IVFx,PQy``
    composition): the offline index job encodes the corpus to PQ
    codes, tags each with its coarse IVF cell, and writes the code
    table ``partitionBy(cell_id)`` (``scoped_scratch`` — the at-rest
    index every production deployment ships); the query then probes
    its ``PQ_NPROBE`` closest cells and ADC-scans ONLY those
    partitions (static isin → partition pruning), replacing the
    full-code-table crossJoin scan the pre-r7 face paid.  No oracle
    (both codebooks are float k-means artifacts);
    code-range/compression/recall-vs-exact invariants are
    pytest-asserted in tests/test_similarity.py.  On unit vectors the
    ADC ranking is the cosine ranking, so top-k here approximates
    ``cosine_topk``."""
    books = prefit_pq_codebooks(spark, sf_dir)
    cents = prefit_ivf_codebook(spark, sf_dir)
    idx = prefit_ivfpq_index(spark, sf_dir)
    # lazy normalization: the query touches only the |Q| query rows
    # (pushdown lookup) and the shortlist's rerank vectors — no
    # corpus-wide persist in the timed path (the corpus-shaped work
    # all lives in the at-rest index)
    embn = sim.with_unit_vectors(load_table(spark, sf_dir, "embeddings"))
    return sim.pq_ann_topk(embn, QUERY_VEC_IDS, books, k=TOPK,
                           codes=spark.read.parquet(idx),
                           centroids=cents, nprobe=PQ_NPROBE)


def prefit_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or fetch) the at-rest IVF-PQ index: PQ codes tagged with
    their coarse IVF cell, written ``partitionBy(cell_id)`` — the
    offline index job of a production ANN deployment.  bench.py calls
    this in warmup alongside the codebook prefits, so the timed query
    measures probe + pruned ADC + rerank, not the index build."""
    books = prefit_pq_codebooks(spark, sf_dir)
    cents = prefit_ivf_codebook(spark, sf_dir)

    def build(path: str) -> None:
        embn0 = sim.with_unit_vectors(
            load_table(spark, sf_dir, "embeddings"))
        assigned = sim._assign_cells(embn0, F.broadcast(cents),
                                     "vec_id", "embedding",
                                     assume_unit=True)
        (sim.pq_encode(embn0, books)
         .join(assigned.select("vec_id", "cell_id"), "vec_id")
         .repartition("cell_id")
         .write.mode("overwrite").partitionBy("cell_id").parquet(path))

    return scoped_scratch("ivfpq_index", sf_dir, build)


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
PACK_BUDGET = 2048


def lm_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM perplexity scoring
    (operators/textstats.py:unigram_lm_scores): per-doc mean negative
    log-prob + perplexity under the corpus unigram model — the soft
    quality signal that flags outlier documents."""
    return tx.unigram_lm_scores(_docs(spark, sf_dir))


def gopher_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule filter (operators/textstats.py:
    rule_filter): per-rule pass flags (length band, mean-word-length
    band, stopword evidence, repetition) + the AND as ``keep``."""
    return tx.rule_filter(_docs(spark, sf_dir))


def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (operators/textstats.py:
    nb_classifier_scores): the Gopher rule filter's ``keep`` verdicts
    weak-label the corpus, a Laplace-smoothed multinomial NB fits on
    those labels, and every document gets per-class log-scores + a
    predicted flag — the rules-then-model escalation a production
    curation stack runs (hard rules are cheap but brittle; the model
    generalizes their signal)."""
    d = _docs(spark, sf_dir)
    labels = tx.rule_filter(d).select("doc_id", F.col("keep").alias("y"))
    return tx.nb_classifier_scores(
        d.join(labels, "doc_id"), label_col="y")


BPE_MERGES = 8
#: learned merge tables per sf_dir — the tokenizer artifact (bounded
#: driver-side state, like the PQ/IVF codebooks)
_BPE_TABLES: dict[tuple[str, int], list] = {}


def prefit_bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    from ..operators import bpe

    key = (sf_dir, BPE_MERGES)
    if key not in _BPE_TABLES:
        _BPE_TABLES[key] = bpe.bpe_train(_docs(spark, sf_dir),
                                         n_merges=BPE_MERGES)
    return _BPE_TABLES[key]


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py): the learned merge
    table — rank-ordered most-frequent adjacent unit pairs over the
    corpus word histogram.  No SQL oracle (the loop is iterative-
    global); the table is checked against a from-scratch Python BPE
    reference in tests/test_bpe.py."""
    rows = [(r, l, rt, n) for r, l, rt, n in prefit_bpe_merges(spark, sf_dir)]
    return local_frame(
        spark,
        rows, schema="rank int, left_unit string, right_unit string,"
                     " pair_freq long")


def bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoded with the learned BPE merges: per-document unit
    counts before/after merging — the compression the vocabulary buys,
    one map-side corpus scan (the merge table inlines as bounded
    nested folds)."""
    from ..operators import bpe

    return bpe.bpe_encode_stats(_docs(spark, sf_dir),
                                prefit_bpe_merges(spark, sf_dir))


#: Target mixture for the resampler face: up-weight the first five
#: sources 3× over the uniform tail (literal so the oracle CASE can
#: mirror it).
MIX_WEIGHTS = {f"src{i}": 3.0 for i in range(5)}


def mixture_resample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture resampler (operators/sampling.py:
    mixture_resample): downsample each source so kept shares are
    proportional to MIX_WEIGHTS — the acting half of
    ``source_mix_summary``'s report."""
    from ..operators.sampling import mixture_resample

    return mixture_resample(load_table(spark, sf_dir, "documents"),
                            MIX_WEIGHTS)


BOILERPLATE_TOPK = 20


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detector (the C4-style repeated-
    substring pass): the word trigrams appearing in the most DISTINCT
    documents, with document frequency and corpus share — template
    text (headers, footers, license blurbs) is invisible at per-doc
    grain (``repetition_stats``) and only shows up here.

    Shape: one explode to gram grain that partial-aggregates
    immediately (array_distinct first, so a gram repeated within one
    doc counts once and the exploded rows are bounded by distinct
    grams per doc); the global top-k is ORDER BY + LIMIT, which Spark
    executes as TakeOrderedAndProject — a per-partition top-k merged
    on the driver, never a single-reducer total sort.  Ties at the
    cut break on the gram text, so the result set is deterministic
    cross-engine.
    """
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        F.explode(F.array_distinct(
            dd.shingles(F.col("text"), 3))).alias("gram"))
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (counts.crossJoin(F.broadcast(n_docs))
            .select("gram", "doc_freq",
                    F.round(F.col("doc_freq") / F.col("n_docs"), 6)
                    .alias("df_share"))
            .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
            .limit(BOILERPLATE_TOPK))


def source_mix_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mixing report (operators/textstats.py:source_mix):
    doc/token counts, corpus shares, language breadth, mean length —
    the step before per-source sampling weights in a training-mix
    build (complements temperature_sample_by_lang, which rebalances;
    this reports what there is to rebalance)."""
    return tx.source_mix(load_table(spark, sf_dir, "documents"))


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_documents(_docs(spark, sf_dir),
                              chunk_tokens=CHUNK_TOKENS,
                              overlap=CHUNK_OVERLAP)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.pack_sequences(_docs(spark, sf_dir), budget=PACK_BUDGET)


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    key hash (90/5/5): the reproducible-split pattern — any engine, any
    run, any partitioning assigns each doc_id the same split.  Split on
    the ID hash, never on position or rand(): re-shards and re-runs
    must not move documents across splits."""
    from ..functions import portable_hash64

    d = _docs(spark, sf_dir)
    bucket = F.pmod(portable_hash64(F.col("doc_id").cast("string"),
                                    salt="split|"), F.lit(100))
    split = (F.when(bucket < 90, F.lit("train"))
             .when(bucket < 95, F.lit("val"))
             .otherwise(F.lit("test")))
    return (d.select(split.alias("split"), F.length("text").alias("n_chars"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


INDEX_POSTINGS = 20


def inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token → posting-list index over the corpus, capped to 20 doc
    ids per token BEFORE collection (operators/textstats.py:
    inverted_index — the aggregation buffer never exceeds the cap,
    however hot the token)."""
    return tx.inverted_index(_docs(spark, sf_dir),
                             max_postings=INDEX_POSTINGS)


def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary profile via explode (the lateral-view /
    UDTF shape): distinct lowercase tokens, total token volume, and the
    20 most frequent tokens.  The explode multiplies rows by document
    length — the one place it is the RIGHT tool, because the aggregate
    is over tokens, not documents; partial aggregation collapses each
    partition's counts before the shuffle."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("token"))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    totals = counts.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("n").cast("long").alias("total_tokens"))
    return top.crossJoin(F.broadcast(totals)).select(
        "token", "n", "vocab_size", "total_tokens")


PMI_MIN_COUNT = 5
PMI_TOPK = 50


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: the top
    bigrams whose co-occurrence beats the independence model —
    PMI = ln(p(ab) / (p(a)·p(b))) — the classic phrase-extraction pass
    a tokenizer/vocab pipeline runs before merging multi-word units.
    Corpus shape: one explode to unigram counts, one index-transform
    to bigram counts (no self-join of the token stream), both
    partial-aggregating; the final join attaches the two unigram
    frequencies to each surviving bigram (≥ PMI_MIN_COUNT occurrences
    — PMI is noise for rare pairs) and top-k is
    TakeOrderedAndProject on the ROUNDED score with a pinned (a, b)
    tie-break, so the cutoff set is engine-independent."""
    d = _docs(spark, sf_dir)
    t = F.split(F.trim(F.lower("text")), r"\s+")
    toks = d.select(t.alias("t"))
    uni = (toks.select(F.explode("t").alias("a"))
           .groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("ca")))
    uni = scoped_persist(uni)
    n = F.size("t")
    pairs = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.element_at(F.col("t"), i).alias("a"),
                           F.element_at(F.col("t"), i + 1).alias("b"))
    )).otherwise(F.array())
    bi_all = scoped_persist(
        toks.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cab")))
    bi = bi_all.filter(F.col("cab") >= PMI_MIN_COUNT)
    tu = uni.agg(F.sum("ca").cast("long").alias("tu"))
    tb_ = bi_all.agg(F.sum("cab").cast("long").alias("tb"))
    joined = (bi
              .join(uni, "a")
              .join(uni.select(F.col("a").alias("b"),
                               F.col("ca").alias("cb")), "b")
              .crossJoin(F.broadcast(tu)).crossJoin(F.broadcast(tb_)))
    pmi = F.round(F.log(
        (F.col("cab").cast("double") / F.col("tb").cast("double"))
        / ((F.col("ca").cast("double") / F.col("tu").cast("double"))
           * (F.col("cb").cast("double") / F.col("tu").cast("double")))),
        6)
    return (joined.select("a", "b", F.col("cab").alias("n_ab"),
                          pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(PMI_TOPK))


#: Jelinek-Mercer interpolation weight on the bigram term.
BIGRAM_LM_LAMBDA = 0.7


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model scoring — the next step up
    from ``lm_unigram_scores``: each document's mean negative log
    probability under ``p(w|v) = λ·c(vw)/c(v·) + (1−λ)·c(w)/N``
    (Jelinek-Mercer smoothing; the backoff means unseen bigrams cost
    the unigram rate instead of −∞).  Context counts come from the
    bigram table's own margin, so probabilities sum to 1 per context
    by construction.

    Scale shape: bigrams come from an index transform over each doc's
    token array (PMI's no-self-join idiom) and collapse immediately
    to (doc, prev, cur, k) grain; the model tables are corpus-vocab
    grain; scoring is two vocab joins + one broadcast total — token
    instances are never joined row-by-row."""
    d = _docs(spark, sf_dir)
    t = F.split(F.trim(F.lower("text")), r"\s+")
    toks = scoped_persist(d.select("doc_id", t.alias("t")))
    uni = scoped_persist(
        toks.select(F.explode("t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw")))
    total = uni.agg(F.sum("cw").cast("long").alias("n"))
    n = F.size("t")
    pairs = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.element_at(F.col("t"), i).alias("a"),
                           F.element_at(F.col("t"), i + 1).alias("b"))
    )).otherwise(F.array())
    doc_bi = scoped_persist(
        toks.select("doc_id", F.explode(pairs).alias("p"))
        .groupBy("doc_id", F.col("p.a").alias("prev"),
                 F.col("p.b").alias("cur"))
        .agg(F.count(F.lit(1)).cast("long").alias("k")))
    bi = doc_bi.groupBy("prev", "cur").agg(
        F.sum("k").cast("long").alias("cab"))
    ctx = bi.groupBy("prev").agg(F.sum("cab").cast("long").alias("cprev"))
    lam = BIGRAM_LM_LAMBDA
    joined = (doc_bi.join(bi, ["prev", "cur"]).join(ctx, "prev")
              .join(uni.select(F.col("w").alias("cur"), "cw"), "cur")
              .crossJoin(F.broadcast(total)))
    p = (F.lit(lam) * (F.col("cab").cast("double") / F.col("cprev"))
         + F.lit(1 - lam) * (F.col("cw").cast("double") / F.col("n")))
    nll = -F.sum(F.col("k") * F.log(p)) / F.sum("k")
    return (joined.groupBy("doc_id")
            .agg(F.sum("k").cast("long").alias("n_bigrams"),
                 F.round(nll, 6).alias("avg_neg_logp")))


EVAL_MOD = 50            # every 50th doc plays the held-out benchmark
CONTAM_FLAG_T = 0.5
TFIDF_K = 3


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality cut: top-bigram fraction +
    duplicate-5-gram fraction per document, with an is_repetitive
    flag."""
    return tx.repetition_stats(_docs(spark, sf_dir))


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs whose id % 50 == 0 stand in for
    the held-out eval set; every other document reports what fraction
    of its distinct 3-grams leak from that set."""
    d = _docs(spark, sf_dir)
    return tx.contamination_check(
        d.filter(F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) != 0),
        d.filter(F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) == 0),
        flag_threshold=CONTAM_FLAG_T)


DECONTAM_T = 0.5


def cross_corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination vs the eval slice (doc_id % 50 == 0
    plays the held-out benchmark, as in ``contamination_check``): each
    remaining document's best shingle-Jaccard against any eval doc it
    shares a MinHash LSH band with — a band JOIN against the broadcast
    reference, never a corpus self-join
    (operators/dedup.py:cross_corpus_neardup)."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) != 0)
    reference = d.filter(F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) == 0)
    return dd.cross_corpus_neardup(corpus, reference,
                                   num_hashes=MINHASHES, bands=BANDS,
                                   threshold=DECONTAM_T)


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (lowercased, ln IDF,
    deterministic tie-break)."""
    return tx.tfidf_top_terms(_docs(spark, sf_dir), k=TFIDF_K)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus sample: every language downsampled to
    ~the smallest language's size by deterministic id-hash threshold
    (operators/sampling.py) — reproducible across runs and engines."""
    from ..operators.sampling import stratified_sample as strat

    return strat(_docs(spark, sf_dir), strata_col="lang")


DSIR_BUCKETS = 4096
DSIR_ALPHA = 0.5


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023 —
    operators/sampling.py:dsir_importance_weights): per-document log
    importance weight of the ``lang = 'en'`` target slice vs the raw
    corpus under hashed-n-gram (unigram + bigram) bag-of-features
    models — the scalable "pick documents that look like the target
    domain" selector.  Hashed buckets + portable md5 make the weights
    reproducible in ANSI SQL."""
    from ..operators.sampling import dsir_importance_weights as dsir

    return dsir(_docs(spark, sf_dir), "lang = 'en'",
                buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA)


TEMP_ALPHA = 0.5
TOKEN_BUDGET = 8000


def temperature_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed corpus sample (p ∝ n^0.5 per language): damps
    the head language's dominance without flattening the mix entirely —
    the multilingual-pretraining middle ground between natural and
    balanced sampling (operators/sampling.py:temperature_sample)."""
    from ..operators.sampling import temperature_sample

    return temperature_sample(_docs(spark, sf_dir), alpha=TEMP_ALPHA)


QUANTILE_Q = 0.5


def quality_quantile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each language's top half by quality (per-stratum median
    cut) — the relative filter that doesn't starve low-resource
    languages the way one global bar does
    (operators/sampling.py:quantile_quality_filter)."""
    from ..operators.sampling import quantile_quality_filter

    return quantile_quality_filter(_docs(spark, sf_dir), q=QUANTILE_Q)


def token_budget_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first corpus selection under a global 8k-token budget:
    whole quality buckets from the top, the boundary bucket filled in
    deterministic hash order (operators/sampling.py:token_budget_select
    — the scale-correct replacement for sort-by-quality-take-prefix)."""
    from ..operators.sampling import token_budget_select

    return token_budget_select(_docs(spark, sf_dir),
                               budget_tokens=TOKEN_BUDGET)


HOLDOUT_K = 20


def eval_holdout_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-language deterministic eval holdout: each language
    contributes its first ``HOLDOUT_K`` documents by id-hash order
    (operators/sampling.py:fixed_k_per_stratum) — exact sizes, stable
    across runs and engines."""
    from ..operators.sampling import fixed_k_per_stratum

    return fixed_k_per_stratum(_docs(spark, sf_dir), k=HOLDOUT_K,
                               strata_col="lang")


def semantic_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level near-dup dedup: LSH-blocked cosine pairs ≥ 0.4
    closed under connected components; one representative (smallest
    vec_id) kept per semantic cluster.  The embedding-space sibling of
    ``dedup_corpus_keep_one``."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = (sim.blocked_neardup_pairs(_emb(spark, sf_dir),
                                       threshold=NEARDUP_T,
                                       num_planes=NEARDUP_PLANES)
             .select(F.col("vec_a").alias("doc_a"),
                     F.col("vec_b").alias("doc_b")))
    return (dd.dedup_keep_one(
        emb.select(F.col("vec_id").alias("doc_id")), pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster_id",
                "cluster_size", "is_kept"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk_bruteforce(
        _emb(spark, sf_dir), QUERY_VEC_IDS, k=TOPK)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate variant — no oracle (bucketing is engine-specific
    via xxhash64); recall vs brute force is pytest-asserted."""
    return sim.lsh_ann_topk(
        _emb(spark, sf_dir), QUERY_VEC_IDS, k=TOPK)


def ann_lsh_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked ANN face: md5-derived hyperplanes with exact
    integer sign tests (``lsh_bucket_portable``) make the bucket
    assignment — and therefore the whole approximate result set —
    engine-reproducible, so the driver hash-checks an actual ANN
    query instead of recording rows-only."""
    return sim.lsh_ann_topk(
        _emb(spark, sf_dir), QUERY_VEC_IDS, k=TOPK,
        num_planes=NEARDUP_PLANES, portable=True)


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_norms(load_table(spark, sf_dir, "embeddings"))


def feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency features
    (operators/textstats.py:feature_hash_tf): fixed-dimension sparse
    TF vectors with no vocabulary pass — signed md5-fold buckets, so
    the oracle reproduces every bucket, sign and cancellation."""
    return tx.feature_hash_tf(_docs(spark, sf_dir))


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantized second-moment (Gram) matrix of the embedding
    corpus (operators/similarity.py:gram_matrix) — the one-pass
    sufficient statistic PCA/whitening start from.  Integer-quantized
    sums make it bit-identical across engines; the shuffle is
    O(d² × partitions) regardless of corpus size."""
    return sim.gram_matrix(_emb(spark, sf_dir))


def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection (operators/similarity.py:pca_project):
    distributed exact Gram/mean statistics → driver d×d eigensolve →
    broadcast loadings → one JVM-side projection pass.  Rows-only by
    design (the eigensolve is not ANSI-SQL-expressible); orthonormality,
    variance ordering and numpy parity are pytest-asserted."""
    return sim.pca_project(_emb(spark, sf_dir), k=2)


def _minhash_sig_sql(where: str = "") -> str:
    # one md5 digest per shingle, sliced into two 60-bit halves — the
    # exact construction of operators/dedup.py:minhash_signatures
    # (portable path): h1 = hex chars 1-15, h2 = hex chars 17-31
    h1 = "(('0x' || substr(d, 1, 15))::BIGINT)"
    h2 = "(('0x' || substr(d, 17, 15))::BIGINT)"
    cols = [
        f"list_min(list_transform(ds, d -> {h1} + {s} * {h2})) AS mh_{s}"
        for s in range(MINHASHES)
    ]
    col_sql = ",\n               ".join(cols)
    return f"""
        WITH sh_docs AS (
            SELECT doc_id,
                   list_transform({_SHINGLES},
                                  x -> md5('mh|' || x)) AS ds
            FROM documents {where}
        )
        SELECT doc_id,
               {col_sql}
        FROM sh_docs
    """


_JACCARD_VERIFY_SQL = f"""
    sh_sets AS (
        SELECT doc_id, list_distinct({_SHINGLES}) AS shset FROM documents
    ),
    verified AS (
        SELECT p.doc_a, p.doc_b,
               len(list_intersect(sa.shset, sb.shset))::BIGINT AS n_common,
               (len(sa.shset) + len(sb.shset)
                - len(list_intersect(sa.shset, sb.shset)))::BIGINT AS n_union,
               CAST(round(len(list_intersect(sa.shset, sb.shset))
                     / (len(sa.shset) + len(sb.shset)
                        - len(list_intersect(sa.shset, sb.shset))), 6)
                    AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sh_sets sa ON p.doc_a = sa.doc_id
        JOIN sh_sets sb ON p.doc_b = sb.doc_id
    )
"""

# Shared CTE chain for the clustering oracles: checked MinHash-LSH
# pairs → symmetric edge list → recursive min-label closure → cc.
# Callers must open with WITH RECURSIVE.
_CLUSTER_CTE_SQL = f"""
        sigs AS ({{sig_sql}}),
        buckets AS ({{band_sql}}),
        capped AS (
            SELECT band_idx, band_val FROM buckets
            GROUP BY band_idx, band_val HAVING COUNT(*) <= {{max_bucket}}
        ),
        bkt AS (
            SELECT b.* FROM buckets b
            JOIN capped c ON b.band_idx = c.band_idx AND b.band_val = c.band_val
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bkt a JOIN bkt b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ),
        {{verify_sql}},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM verified
            WHERE jaccard >= {{t}}
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM verified
            WHERE jaccard >= {{t}}
        ),
        reach(node, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
        ),
        cc AS (
            SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
        )
"""


def _cluster_cte_sql() -> str:
    return _CLUSTER_CTE_SQL.format(
        sig_sql=_minhash_sig_sql(), band_sql=_MINHASH_BAND_SQL,
        max_bucket=MAX_BUCKET, verify_sql=_JACCARD_VERIFY_SQL,
        t=DUP_CLUSTER_T)


_SIMHASH_SIG_SQL = f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({_TOKENS}, t -> {_H.format(x="'sim|' || t")}) AS hs,
               len({_TOKENS}) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}),
               b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > n
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
               AS simhash
    FROM th
"""

def _minhash_band_sql(src: str = "sigs") -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"CAST(mh_{2 * b} AS VARCHAR) || '|' || CAST(mh_{2 * b + 1} AS VARCHAR) "
        f"AS band_val FROM {src}"
        for b in range(BANDS)
    )


_MINHASH_BAND_SQL = _minhash_band_sql()


def _hp_sign_sql(plane: int) -> str:
    h = _H.format(x=f"'hp|{plane}|' || CAST(d AS VARCHAR)")
    return (
        "(CASE WHEN list_sum(list_transform(generate_series(1, len(q)), "
        f"d -> q[d] * (CASE WHEN ({h} & 1) = 1 THEN 1 ELSE -1 END))) >= 0 "
        "THEN 1 ELSE 0 END)"
    )


_NEARDUP_BUCKET_SQL = " + ".join(
    f"{_hp_sign_sql(p)} * {1 << p}" for p in range(NEARDUP_PLANES))


def _shingle_expr_sql(src: str, n: int) -> str:
    """Word n-gram list over a pre-split token-array column ``src`` —
    the SQL twin of ``operators.dedup.shingles`` (out-of-range list
    indexes yield NULL, concat_ws skips them, so short docs collapse
    to one whole-text shingle on both engines)."""
    parts = ", ".join(f"{src}[i+{j}]" for j in range(n))
    return (f"list_transform(generate_series(1, "
            f"greatest(len({src}) - {n - 1}, 1)), "
            f"i -> concat_ws(' ', {parts}))")


_ANN_LSH_PORTABLE_SQL = f"""
        WITH n AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 1000) AS BIGINT)) AS q
            FROM embeddings
        ),
        bkt AS (
            SELECT vec_id, v, ({_NEARDUP_BUCKET_SQL}) AS bucket
            FROM n
        ),
        qs AS (
            SELECT vec_id AS query_id, v AS qv, bucket
            FROM bkt WHERE vec_id < 10
        ),
        sims AS (
            SELECT qs.query_id, c.vec_id AS candidate_id,
                   CAST(round(
                       list_sum(list_transform(generate_series(1, len(qs.qv)),
                           i -> qs.qv[i] * c.v[i]))
                       / (sqrt(list_sum(list_transform(qs.qv, x -> x * x)))
                          * sqrt(list_sum(list_transform(c.v, x -> x * x)))),
                       6) AS DOUBLE) AS cosine_sim
            FROM qs JOIN bkt c
              ON qs.bucket = c.bucket AND qs.query_id <> c.vec_id
        ),
        ranked AS (
            SELECT query_id, candidate_id, cosine_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, candidate_id ASC)
                        AS BIGINT) AS rank
            FROM sims
        )
        SELECT * FROM ranked WHERE rank <= {TOPK}
"""

_EMB_NEARDUP_SQL = f"""
        WITH n AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 1000) AS BIGINT)) AS q,
                   sqrt(list_sum(list_transform(
                        CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
            FROM embeddings
        ),
        bkt AS (
            SELECT vec_id, v, nrm, ({_NEARDUP_BUCKET_SQL}) AS bucket
            FROM n
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(round(
                   list_sum(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS DOUBLE)
                   AS cosine_sim
        FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(
            list_sum(list_transform(generate_series(1, len(a.v)),
                i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= {NEARDUP_T}
"""

#: the composite quality signal (operators/textstats.py:quality_expr)
#: as a DuckDB scalar over ``text`` — shared by every curation oracle
#: that consumes quality alongside other per-doc columns
_QUALITY_EXPR_SQL = f"""round((least(len({_TOKENS}) / 100.0, 1.0)
                     + least(len(list_filter({_TOKENS}, w -> lower(w) IN
                           ('the','a','of','and','to','in','is')))
                         / CAST(len({_TOKENS}) AS DOUBLE) * 5.0, 1.0)
                     + len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         / CAST(len(text) AS DOUBLE)
                     + len(list_distinct({_TOKENS}))
                         / CAST(len({_TOKENS}) AS DOUBLE)
                     + 1.0 - len(regexp_replace(text, '[^0-9]', '', 'g'))
                         / CAST(len(text) AS DOUBLE)) / 5.0, 6)"""

_RT = tx.RULE_THRESHOLDS

#: the Gopher `keep` predicate over the `sig` CTE columns — shared by
#: the gopher_rule_filter oracle and the NB classifier's weak-label CTE
_GOPHER_KEEP = f"""(n_tok >= {_RT["min_tokens"]}
                AND n_tok <= {_RT["max_tokens"]}
                AND mean_len >= {_RT["min_mean_token_len"]}
                AND mean_len <= {_RT["max_mean_token_len"]}
                AND stop_hits >= {_RT["min_stopword_hits"]}
                AND dr >= {_RT["min_distinct_ratio"]})"""

_GOPHER_SIG = f"""
            SELECT doc_id,
                   len({_TOKENS}) AS n_tok,
                   list_sum(list_transform({_TOKENS}, w -> len(w)))
                       / CAST(len({_TOKENS}) AS DOUBLE) AS mean_len,
                   len(list_filter({_TOKENS}, w -> lower(w) IN
                       ('the','a','of','and','to','in','is'))) AS stop_hits,
                   len(list_distinct({_TOKENS}))
                       / CAST(len({_TOKENS}) AS DOUBLE) AS dr
            FROM documents"""

def split_group_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-disjoint train/val/test split — the leakage guard
    ``dataset_splits`` (id-hash) cannot give: the split key is the
    document's SOURCE, so every document from one source/domain lands
    in the same split.  Near-duplicates and templated text concentrate
    within a source, and an id-level split leaks them across
    train/test; grouping by the contamination unit is the standard
    countermeasure (the GroupShuffleSplit idea at corpus scale).
    80/10/10 by source hash, deterministic across engines via the
    portable md5 hash; the no-straddle invariant is pytest-asserted."""
    from ..functions import portable_hash64

    d = _docs(spark, sf_dir)
    bucket = F.pmod(portable_hash64(F.col("source"), salt="gsplit|"),
                    F.lit(10))
    split = (F.when(bucket < 8, F.lit("train"))
             .when(bucket == 8, F.lit("val"))
             .otherwise(F.lit("test")))
    return d.select("doc_id", "source", split.alias("split"))


#: OOV threshold: tokens below this fraction of total corpus tokens
#: are out-of-vocabulary.  The synthetic corpus has one deliberately
#: rare type (~0.1% of tokens) against a ~3%-per-type body at every
#: sf, so 1% is scale-invariant and non-trivial.
OOV_MIN_FRACTION = 0.01


def oov_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-pruned corpus rewrite
    (operators/textstats.py:prune_rare_tokens): tokens rarer than
    ``OOV_MIN_FRACTION`` of the corpus are replaced by ``<unk>`` and
    every document is reassembled in original token order — the
    tokenizer-prep OOV pass.  The keep-vocabulary is corpus-grain
    broadcast metadata; the only shuffle is the per-document regroup.
    The oracle rebuilds the identical rewrite relationally, proving
    tokenization, thresholding, replacement, and order-preserving
    reassembly all at once."""
    from ..operators.textstats import prune_rare_tokens

    return prune_rare_tokens(_docs(spark, sf_dir), "doc_id", "text",
                             OOV_MIN_FRACTION)


ORACLE_SQL: dict[str, str] = {
    "split_group_by_source": f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               CASE
                 WHEN {_H.format(x="'gsplit|' || source")} % 10 < 8
                     THEN 'train'
                 WHEN {_H.format(x="'gsplit|' || source")} % 10 = 8
                     THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    """,
    "oov_scrub_documents": f"""
        WITH s AS (
            SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        ),
        w AS (
            SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                   unnest(arr) AS word
            FROM s
        ),
        freq AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
        tot AS (SELECT COUNT(*) AS n FROM w),
        keep AS (
            SELECT word FROM freq, tot
            WHERE c >= ceil({OOV_MIN_FRACTION} * n)
        ),
        r AS (
            SELECT w.doc_id, w.pos,
                   CASE WHEN k.word IS NULL THEN '<unk>'
                        ELSE w.word END AS word,
                   CASE WHEN k.word IS NULL THEN 1 ELSE 0 END AS u
            FROM w LEFT JOIN keep k USING (word)
        )
        SELECT doc_id,
               string_agg(word, ' ' ORDER BY pos) AS clean_text,
               CAST(SUM(u) AS BIGINT) AS n_unk
        FROM r GROUP BY doc_id
    """,
    "nb_quality_classifier": f"""
        WITH sig AS ({_GOPHER_SIG}),
        labels AS (SELECT doc_id, {_GOPHER_KEEP} AS y FROM sig),
        toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS token
            FROM documents
        ),
        tf AS (
            SELECT t.doc_id, l.y, token, COUNT(*) AS cnt
            FROM toks t JOIN labels l USING (doc_id)
            GROUP BY t.doc_id, l.y, token
        ),
        cls_tok AS (
            SELECT y, token, SUM(cnt) AS ccnt FROM tf GROUP BY y, token
        ),
        cls_tot AS (SELECT y, SUM(ccnt) AS ctot FROM cls_tok GROUP BY y),
        vocab AS (SELECT DISTINCT token FROM tf),
        vs AS (SELECT COUNT(*) AS v FROM vocab),
        grid AS (
            SELECT v.token, c.cls, COALESCE(ct.ccnt, 0) AS ccnt
            FROM vocab v
            CROSS JOIN (SELECT true AS cls UNION ALL SELECT false) c
            LEFT JOIN cls_tok ct ON ct.y = c.cls AND ct.token = v.token
        ),
        logp AS (
            SELECT g.token, g.cls,
                   ln((g.ccnt + 1) / (t.ctot + s.v)) AS logp
            FROM grid g JOIN cls_tot t ON g.cls = t.y CROSS JOIN vs s
        ),
        priors AS (
            SELECT ln(COUNT(CASE WHEN y THEN 1 END)
                      / CAST(COUNT(*) AS DOUBLE)) AS prior_pass,
                   ln(COUNT(CASE WHEN NOT y THEN 1 END)
                      / CAST(COUNT(*) AS DOUBLE)) AS prior_fail
            FROM labels
        ),
        scored AS (
            SELECT tf.doc_id,
                   CAST(SUM(CASE WHEN lp.cls THEN cnt END) AS BIGINT)
                       AS n_tokens,
                   bool_or(tf.y) AS weak_label,
                   SUM(CASE WHEN lp.cls THEN cnt * lp.logp END) AS sp,
                   SUM(CASE WHEN NOT lp.cls THEN cnt * lp.logp END) AS sf
            FROM tf JOIN logp lp USING (token)
            GROUP BY tf.doc_id
        )
        SELECT doc_id, n_tokens, weak_label,
               round(sp + prior_pass, 6) AS score_pass,
               round(sf + prior_fail, 6) AS score_fail,
               round(sp + prior_pass, 6) >= round(sf + prior_fail, 6)
                   AS predicted_pass
        FROM scored CROSS JOIN priors
    """,
    "boilerplate_ngrams": f"""
        WITH grams AS (
            SELECT unnest(list_distinct({_SHINGLES})) AS gram
            FROM documents
        ),
        counts AS (
            SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
            FROM grams GROUP BY gram
        ),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT gram, doc_freq,
               round(doc_freq / CAST(n_docs AS DOUBLE), 6) AS df_share
        FROM counts CROSS JOIN nd
        ORDER BY doc_freq DESC, gram ASC
        LIMIT {BOILERPLATE_TOPK}
    """,
    "lm_unigram_scores": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS cnt
            FROM toks GROUP BY doc_id, token
        ),
        freq AS (SELECT token, SUM(cnt) AS gcnt FROM tf GROUP BY token),
        tot AS (SELECT SUM(gcnt) AS total FROM freq),
        logp AS (
            SELECT token, ln(gcnt / total) AS logp
            FROM freq CROSS JOIN tot
        )
        SELECT tf.doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               round(-SUM(cnt * logp) / SUM(cnt), 6) AS avg_neg_logp,
               round(exp(-SUM(cnt * logp) / SUM(cnt)), 2) AS unigram_ppl
        FROM tf JOIN logp USING (token)
        GROUP BY tf.doc_id
    """,
    "gopher_rule_filter": f"""
        WITH sig AS ({_GOPHER_SIG})
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tokens,
               round(mean_len, 6) AS mean_token_len,
               CAST(stop_hits AS BIGINT) AS stopword_hits,
               round(dr, 6) AS distinct_ratio,
               (n_tok >= {_RT["min_tokens"]}
                AND n_tok <= {_RT["max_tokens"]}) AS pass_length,
               (mean_len >= {_RT["min_mean_token_len"]}
                AND mean_len <= {_RT["max_mean_token_len"]}) AS pass_word_len,
               (stop_hits >= {_RT["min_stopword_hits"]}) AS pass_stopwords,
               (dr >= {_RT["min_distinct_ratio"]}) AS pass_repetition,
               {_GOPHER_KEEP} AS keep
        FROM sig
    """,
    "mixture_resample_by_source": f"""
        WITH wts AS (
            SELECT source, COUNT(*) AS n,
                   CASE {" ".join(
                       f"WHEN source = '{s}' THEN {w}"
                       for s, w in sorted(MIX_WEIGHTS.items()))}
                        ELSE 1.0 END AS w
            FROM documents GROUP BY source
        ),
        m AS (SELECT MIN(n / w) AS c FROM wts),
        rates AS (
            SELECT source,
                   CAST(floor(round(least(c * w / n, 1.0) * 1e9, 0)
                              / 1000) AS BIGINT) AS keep_ppm
            FROM wts CROSS JOIN m
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, r.keep_ppm
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ({_H.format(x="'mix|' || CAST(doc_id AS VARCHAR)")}
               % 1000000) < keep_ppm
    """,
    "simhash_fingerprints": _SIMHASH_SIG_SQL,
    "dedup_simhash_pairs": f"""
        WITH sigs AS ({_SIMHASH_SIG_SQL}),
        buckets AS (
            SELECT doc_id, b AS band_idx,
                   (simhash >> (b * {SIMHASH_BAND_BITS}))
                       & {(1 << SIMHASH_BAND_BITS) - 1} AS band_val
            FROM sigs, generate_series(0, {SIMHASH_BITS // SIMHASH_BAND_BITS - 1}) t(b)
        ),
        capped AS (
            SELECT band_idx, band_val FROM buckets
            GROUP BY band_idx, band_val HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        bkt AS (
            SELECT b.* FROM buckets b
            JOIN capped c ON b.band_idx = c.band_idx AND b.band_val = c.band_val
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bkt a JOIN bkt b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               sa.simhash AS sim_a, sb.simhash AS sim_b,
               CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sigs sa ON c.doc_a = sa.doc_id
        JOIN sigs sb ON c.doc_b = sb.doc_id
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
    "dedup_exact": f"""
        SELECT {_H.format(x='text')} AS content_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY 1
    """,
    "duplicate_span_pairs": f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(text) - 15, 1)),
                       i -> {_H.format(x="'wf|' || substr(text, i, 16)")}
                   ) AS hs
            FROM documents
        ),
        fps AS (
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(hs) - 7, 1)),
                           j -> list_min(hs[j:j+7]))) AS fp
                FROM hs)
        ),
        keep AS (
            SELECT fp FROM fps GROUP BY fp
            HAVING COUNT(*) BETWEEN 2 AND 16
        ),
        ok AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 4
    """,
    "source_mix_summary": f"""
        WITH per_src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_TOKENS})) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        )
        SELECT source, n_docs, n_tokens, n_langs,
               CAST(round(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
                    AS DOUBLE) AS doc_share,
               CAST(round(n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
                    AS DOUBLE) AS token_share,
               CAST(round(sum_chars / CAST(n_docs AS DOUBLE), 6)
                    AS DOUBLE) AS avg_chars
        FROM per_src
    """,
    "minhash_signatures": _minhash_sig_sql(),
    "ngram_jaccard_pairs": f"""
        WITH blocked AS (
            SELECT doc_id, lang,
                   CAST(floor(len({_TOKENS}) / 16) AS INT) AS len_bucket
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM blocked a JOIN blocked b
              ON a.lang = b.lang AND a.len_bucket = b.len_bucket
             AND a.doc_id < b.doc_id
        ),
        {_JACCARD_VERIFY_SQL}
        SELECT * FROM verified WHERE jaccard >= 0.2
    """,
    "text_stats": f"""
        SELECT doc_id,
               CAST(len(text) AS BIGINT) AS n_chars,
               CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_TOKENS})) AS BIGINT) AS n_distinct_tokens,
               CAST(round(len(list_distinct({_TOKENS})) / len({_TOKENS}), 6) AS DOUBLE)
                   AS distinct_ratio,
               CAST(round((len(text) - (len({_TOKENS}) - 1)) / len({_TOKENS}), 6) AS DOUBLE)
                   AS mean_token_len,
               CAST(round(len(list_filter({_TOKENS},
                    w -> lower(w) IN ('the','a','of','and','to','in','is')))
                    / len({_TOKENS}), 6) AS DOUBLE) AS stopword_ratio,
               CAST(round(len(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    / len(text), 6) AS DOUBLE) AS alpha_ratio,
               CAST(round(len(regexp_replace(text, '[^0-9]', '', 'g'))
                    / len(text), 6) AS DOUBLE) AS digit_ratio
        FROM documents
    """,
    "language_id": f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(list_filter({_TOKENS.replace('text', 'lower(text)')},
                        w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS hits_en,
                   CAST(len(list_filter({_TOKENS.replace('text', 'lower(text)')},
                        w -> w IN ('el','la','de','y','que','en','es'))) AS BIGINT) AS hits_es,
                   CAST(len(list_filter({_TOKENS.replace('text', 'lower(text)')},
                        w -> w IN ('le','la','de','et','que','en','est'))) AS BIGINT) AS hits_fr
            FROM documents
        )
        SELECT doc_id, hits_en, hits_es, hits_fr,
               CASE WHEN greatest(hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_en = greatest(hits_en, hits_es, hits_fr) THEN 'en'
                    WHEN hits_es = greatest(hits_en, hits_es, hits_fr) THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM scored
    """,
    "doc_fingerprints": f"""
        WITH grams AS (
            SELECT doc_id, len(text) AS n_chars,
                   list_transform(
                       generate_series(1, greatest(len(text) - 7, 1)),
                       i -> {_H.format(x="'fp|' || substr(text, i, 8)")}) AS hs
            FROM documents
        )
        SELECT doc_id, list_min(hs) AS fp_min, list_max(hs) AS fp_max,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM grams
    """,
    "normalize_text": """
        WITH cleaned AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(text,
                           '[\\x00-\\x1F\\x7F]', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS norm_text,
                   text
            FROM documents
        )
        SELECT doc_id, norm_text,
               CAST(len(text) AS BIGINT) AS n_chars_before,
               CAST(len(norm_text) AS BIGINT) AS n_chars_after,
               (norm_text <> text) AS changed
        FROM cleaned
    """,
    "scrub_text": """
        WITH cleaned AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               'https?://[^\\s]+', '<URL>', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                           '<EMAIL>', 'g'),
                       '[0-9]+', '<NUM>', 'g') AS clean_text,
                   len(text) AS n_before
            FROM documents
        )
        SELECT doc_id, clean_text,
               CAST(n_before AS BIGINT) AS n_chars_before,
               CAST(len(clean_text) AS BIGINT) AS n_chars_after,
               CAST(len(clean_text) - n_before AS BIGINT) AS delta_chars
        FROM cleaned
    """,
    "token_count_bpe": f"""
        WITH pre AS (
            SELECT doc_id, text,
                   regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')
                       AS pt
            FROM documents
        )
        SELECT doc_id,
               CAST(len({_TOKENS}) AS BIGINT) AS n_ws_tokens,
               CAST(len(pt) AS BIGINT) AS n_pretokens,
               CAST(COALESCE(list_sum(list_transform(pt,
                    t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 0) AS BIGINT)
                   AS est_bpe_tokens,
               CAST(round(len(text) / list_sum(list_transform(pt,
                    t -> CAST(ceil(len(t) / 4.0) AS BIGINT))), 6) AS DOUBLE)
                   AS chars_per_bpe_token
        FROM pre
    """,
    "quality_score": f"""
        WITH base AS (
            SELECT doc_id,
                   len({_TOKENS}) AS n_tok,
                   len(text) AS n_char,
                   len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                   len(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   len(list_filter({_TOKENS}, w -> lower(w) IN
                       ('the','a','of','and','to','in','is'))) AS stop_hits,
                   len(list_distinct({_TOKENS})) AS n_distinct
            FROM documents
        ),
        scores AS (
            SELECT doc_id,
                   least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS length_score,
                   least(CAST(stop_hits AS DOUBLE) / n_tok * 5.0, 1.0) AS stopword_score,
                   CAST(n_alpha AS DOUBLE) / n_char AS alpha_score,
                   CAST(n_distinct AS DOUBLE) / n_tok AS repetition_score,
                   1.0 - CAST(n_digit AS DOUBLE) / n_char AS digit_score
            FROM base
        )
        SELECT doc_id,
               CAST(round(length_score, 6) AS DOUBLE) AS length_score,
               CAST(round(stopword_score, 6) AS DOUBLE) AS stopword_score,
               CAST(round(alpha_score, 6) AS DOUBLE) AS alpha_score,
               CAST(round(repetition_score, 6) AS DOUBLE) AS repetition_score,
               CAST(round(digit_score, 6) AS DOUBLE) AS digit_score,
               CAST(round((length_score + stopword_score + alpha_score
                    + repetition_score + digit_score) / 5.0, 6) AS DOUBLE) AS quality,
               ((length_score + stopword_score + alpha_score
                    + repetition_score + digit_score) / 5.0 >= 0.7) AS passes_filter
        FROM scores
    """,
    "dedup_minhash_pairs_checked": f"""
        WITH sigs AS ({_minhash_sig_sql()}),
        buckets AS ({_MINHASH_BAND_SQL}),
        capped AS (
            SELECT band_idx, band_val FROM buckets
            GROUP BY band_idx, band_val HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        bkt AS (
            SELECT b.* FROM buckets b
            JOIN capped c ON b.band_idx = c.band_idx AND b.band_val = c.band_val
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bkt a JOIN bkt b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ),
        {_JACCARD_VERIFY_SQL}
        SELECT doc_a, doc_b, n_common, n_union, jaccard FROM verified
    """,
    "dup_clusters": f"""
        WITH RECURSIVE {_cluster_cte_sql()}
        SELECT CAST(node AS BIGINT) AS doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id
        FROM cc
    """,
    "dedup_corpus_keep_one": f"""
        WITH RECURSIVE {_cluster_cte_sql()},
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size,
                   MIN(node) AS keep_id
            FROM cc GROUP BY cluster_id
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CAST(COALESCE(cc.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
               (COALESCE(s.keep_id, d.doc_id) = d.doc_id) AS is_kept
        FROM documents d
        LEFT JOIN cc ON d.doc_id = cc.node
        LEFT JOIN sizes s ON cc.cluster_id = s.cluster_id
    """,
    "embedding_neardup_pairs": _EMB_NEARDUP_SQL,
    "ann_lsh_topk_portable": _ANN_LSH_PORTABLE_SQL,
    "repetition_stats": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
        bg AS (
            SELECT doc_id, unnest({_shingle_expr_sql('t', 2)}) AS bg
            FROM toks
        ),
        bgc AS (
            SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg
        ),
        bgd AS (
            SELECT doc_id, SUM(cnt) AS n_bigrams, MAX(cnt) AS top
            FROM bgc GROUP BY doc_id
        ),
        five AS (
            SELECT doc_id,
                   len({_shingle_expr_sql('t', 5)}) AS n5,
                   len(list_distinct({_shingle_expr_sql('t', 5)})) AS nd5
            FROM toks
        )
        SELECT CAST(f.doc_id AS BIGINT) AS doc_id,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(top AS BIGINT) AS top_bigram_count,
               CAST(round(top / CAST(n_bigrams AS DOUBLE), 6) AS DOUBLE)
                   AS top_bigram_frac,
               CAST(round((n5 - nd5) / CAST(n5 AS DOUBLE), 6) AS DOUBLE)
                   AS dup_5gram_frac,
               (round(top / CAST(n_bigrams AS DOUBLE), 6) > 0.2
                OR round((n5 - nd5) / CAST(n5 AS DOUBLE), 6) > 0.3)
                   AS is_repetitive
        FROM five f JOIN bgd ON f.doc_id = bgd.doc_id
    """,
    "contamination_check": f"""
        WITH sh AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS gs FROM documents
        ),
        eg AS (
            SELECT DISTINCT unnest(gs) AS g FROM sh
            WHERE doc_id % {EVAL_MOD} = 0
        ),
        corpus AS (
            SELECT doc_id, gs FROM sh WHERE doc_id % {EVAL_MOD} <> 0
        ),
        ex AS (SELECT doc_id, unnest(gs) AS g FROM corpus),
        hits AS (
            SELECT ex.doc_id, COUNT(*) AS n_cont
            FROM ex JOIN eg ON ex.g = eg.g GROUP BY ex.doc_id
        )
        SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
               CAST(len(gs) AS BIGINT) AS n_grams,
               CAST(COALESCE(n_cont, 0) AS BIGINT) AS n_contaminated,
               CAST(round(COALESCE(n_cont, 0) / CAST(len(gs) AS DOUBLE), 6)
                    AS DOUBLE) AS contamination_rate,
               (round(COALESCE(n_cont, 0) / CAST(len(gs) AS DOUBLE), 6)
                    >= {CONTAM_FLAG_T}) AS flagged
        FROM corpus c LEFT JOIN hits ON c.doc_id = hits.doc_id
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({_TOKENS.replace('text', 'lower(text)')}) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS cnt
            FROM toks GROUP BY doc_id, token
        ),
        dl AS (SELECT doc_id, SUM(cnt) AS n_tokens FROM tf GROUP BY doc_id),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   round((cnt / CAST(n_tokens AS DOUBLE))
                         * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
            FROM tf
            JOIN dl ON tf.doc_id = dl.doc_id
            JOIN dfreq ON tf.token = dfreq.token
            CROSS JOIN nd
        ),
        rk AS (
            SELECT doc_id, token, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token ASC) AS rnk
            FROM scored
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
               CAST(tfidf AS DOUBLE) AS tfidf, CAST(rnk AS BIGINT) AS rank
        FROM rk WHERE rnk <= {TFIDF_K}
    """,
    "dsir_importance_weights": f"""
        WITH toks AS (
            SELECT doc_id, lang = 'en' AS is_tgt,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM documents
        ),
        feats AS (
            SELECT doc_id, is_tgt, unnest(t) AS f FROM toks
            UNION ALL
            SELECT doc_id, is_tgt,
                   unnest(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i + 1]))) AS f
            FROM toks WHERE len(t) > 1
        ),
        tf AS (
            SELECT doc_id, is_tgt,
                   ({_H.format(x='f')} % {DSIR_BUCKETS}) AS bucket,
                   COUNT(*) AS cnt
            FROM feats GROUP BY 1, 2, 3
        ),
        raw AS (SELECT bucket, SUM(cnt) AS c_raw FROM tf GROUP BY 1),
        tgt AS (SELECT bucket, SUM(cnt) AS c_tgt
                FROM tf WHERE is_tgt GROUP BY 1),
        tot AS (SELECT SUM(cnt) AS n_raw,
                       SUM(CASE WHEN is_tgt THEN cnt ELSE 0 END) AS n_tgt
                FROM tf),
        lam AS (
            SELECT raw.bucket,
                   ln((COALESCE(tgt.c_tgt, 0) + {DSIR_ALPHA})
                      / (tot.n_tgt + {DSIR_ALPHA} * {DSIR_BUCKETS}))
                 - ln((raw.c_raw + {DSIR_ALPHA})
                      / (tot.n_raw + {DSIR_ALPHA} * {DSIR_BUCKETS}))
                       AS lam
            FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
        )
        SELECT tf.doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_feats,
               round(SUM(cnt * lam), 6) + 0.0 AS log_weight
        FROM tf JOIN lam USING (bucket)
        GROUP BY tf.doc_id
    """,
    "stratified_sample": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ),
        m AS (SELECT MIN(n) AS min_n FROM counts),
        rates AS (
            SELECT lang,
                   CAST(floor(1000000 * min_n / CAST(n AS DOUBLE)) AS BIGINT)
                       AS keep_ppm
            FROM counts CROSS JOIN m
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE ({_H.format(x="'sample|' || CAST(doc_id AS VARCHAR)")}
               % 1000000) < keep_ppm
    """,
    "cross_corpus_decontam": f"""
        WITH sigs_c AS ({_minhash_sig_sql(f"WHERE doc_id % {EVAL_MOD} <> 0")}),
        sigs_r AS ({_minhash_sig_sql(f"WHERE doc_id % {EVAL_MOD} = 0")}),
        bc0 AS ({_minhash_band_sql("sigs_c")}),
        bc_capped AS (
            SELECT band_idx, band_val FROM bc0
            GROUP BY band_idx, band_val HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        bc AS (
            SELECT b.* FROM bc0 b
            JOIN bc_capped c
              ON b.band_idx = c.band_idx AND b.band_val = c.band_val
        ),
        br AS ({_minhash_band_sql("sigs_r")}),
        pairs AS (
            SELECT DISTINCT c.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bc c JOIN br r
              ON c.band_idx = r.band_idx AND c.band_val = r.band_val
        ),
        {_JACCARD_VERIFY_SQL},
        best AS (
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT doc_a, doc_b, jaccard,
                       row_number() OVER (PARTITION BY doc_a
                           ORDER BY jaccard DESC, doc_b ASC) AS rnk
                FROM verified
            ) WHERE rnk = 1
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CAST(COALESCE(b.doc_b, -1) AS BIGINT) AS best_ref_id,
               CAST(COALESCE(b.jaccard, 0.0) AS DOUBLE) AS best_jaccard,
               (COALESCE(b.jaccard, 0.0) >= {DECONTAM_T}) AS flagged
        FROM documents d
        LEFT JOIN best b ON d.doc_id = b.doc_a
        WHERE d.doc_id % {EVAL_MOD} <> 0
    """,
    "quality_quantile_by_lang": f"""
        WITH scored AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                   CAST({_QUALITY_EXPR_SQL} AS DOUBLE) AS quality
            FROM documents
        ),
        thr AS (
            SELECT lang,
                   CAST(round(quantile_cont(quality, {QUANTILE_Q}), 4)
                        AS DOUBLE) AS q_threshold
            FROM scored GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.quality, t.q_threshold
        FROM scored s JOIN thr t ON s.lang = t.lang
        WHERE s.quality >= t.q_threshold
    """,
    "temperature_sample_by_lang": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ),
        m AS (SELECT MIN(n) AS min_n FROM counts),
        rates AS (
            SELECT lang,
                   CAST(floor(round(pow(min_n / CAST(n AS DOUBLE),
                                        {1.0 - TEMP_ALPHA}) * 1e9) / 1000)
                        AS BIGINT) AS keep_ppm
            FROM counts CROSS JOIN m
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, r.keep_ppm
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE ({_H.format(x="'temp|' || CAST(doc_id AS VARCHAR)")}
               % 1000000) < keep_ppm
    """,
    "token_budget_corpus": f"""
        WITH q AS (
            SELECT doc_id,
                   {_QUALITY_EXPR_SQL} AS quality,
                   CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        scored AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
                   CAST(least(1000, floor(quality * 1000)) AS BIGINT)
                       AS quality_bucket
            FROM q
        ),
        hist AS (
            SELECT quality_bucket, SUM(n_tokens) AS btok
            FROM scored GROUP BY quality_bucket
        ),
        marked AS (
            SELECT quality_bucket, btok,
                   COALESCE(SUM(btok) OVER (ORDER BY quality_bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM hist
        ),
        boundary AS (
            SELECT quality_bucket AS b_bucket, cum_before FROM marked
            WHERE cum_before + btok > {TOKEN_BUDGET}
            ORDER BY quality_bucket DESC LIMIT 1
        ),
        ctl AS (
            SELECT COALESCE((SELECT b_bucket FROM boundary), -1) AS b_bucket,
                   COALESCE((SELECT {TOKEN_BUDGET} - cum_before FROM boundary),
                            0) AS b_remaining
        )
        SELECT s.doc_id, s.quality_bucket, s.n_tokens,
               FALSE AS is_boundary
        FROM scored s CROSS JOIN ctl c
        WHERE s.quality_bucket > c.b_bucket
        UNION ALL
        SELECT doc_id, quality_bucket, n_tokens, TRUE AS is_boundary
        FROM (
            SELECT s.doc_id, s.quality_bucket, s.n_tokens, c.b_remaining,
                   SUM(s.n_tokens) OVER (
                       ORDER BY ({_H.format(
                           x="'budget|' || CAST(s.doc_id AS VARCHAR)")}
                                 % 1000000) ASC, s.doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
            FROM scored s CROSS JOIN ctl c
            WHERE s.quality_bucket = c.b_bucket
        ) WHERE run <= b_remaining
    """,
    "eval_holdout_per_lang": f"""
        WITH ranked AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ({_H.format(
                           x="'ksample|' || CAST(doc_id AS VARCHAR)")}
                                 % 1000000) ASC, doc_id ASC) AS rnk
            FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
               CAST(rnk AS BIGINT) AS sample_rank
        FROM ranked WHERE rnk <= {HOLDOUT_K}
    """,
    "semantic_dedup_keep_one": f"""
        WITH RECURSIVE pr AS ({_EMB_NEARDUP_SQL}),
        edges AS (
            SELECT vec_a AS src, vec_b AS dst FROM pr
            UNION
            SELECT vec_b AS src, vec_a AS dst FROM pr
        ),
        reach(node, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
        ),
        cc AS (
            SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
        ),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size, MIN(node) AS keep_id
            FROM cc GROUP BY cluster_id
        )
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               CAST(COALESCE(cc.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
               CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
               (COALESCE(s.keep_id, e.vec_id) = e.vec_id) AS is_kept
        FROM embeddings e
        LEFT JOIN cc ON e.vec_id = cc.node
        LEFT JOIN sizes s ON cc.cluster_id = s.cluster_id
    """,
    "chunk_documents": f"""
        WITH base AS (
            SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n,
                   CAST(greatest(ceil((len({_TOKENS}) - {CHUNK_OVERLAP})
                        / {CHUNK_TOKENS - CHUNK_OVERLAP}.0), 1) AS INT) AS nc
            FROM documents
        ),
        idx AS (
            SELECT doc_id, n, toks, unnest(range(0, nc)) AS chunk_idx
            FROM base
        ),
        expanded AS (
            SELECT doc_id, n, chunk_idx,
                   list_slice(toks,
                       chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1,
                       chunk_idx * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS})
                       AS ct
            FROM idx
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS doc_tokens,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               array_to_string(ct, ' ') AS chunk_text,
               CAST(len(ct) AS BIGINT) AS chunk_tokens
        FROM expanded
    """,
    "pack_sequences": f"""
        WITH sized AS (
            SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
            FROM sized
        )
        SELECT CAST(floor((cum_tokens - n_tokens) / {PACK_BUDGET}) AS BIGINT)
                   AS seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM cum GROUP BY 1
    """,
    "dataset_splits": f"""
        WITH assigned AS (
            SELECT CASE
                     WHEN {_H.format(x="'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                         THEN 'train'
                     WHEN {_H.format(x="'split|' || CAST(doc_id AS VARCHAR)")} % 100 < 95
                         THEN 'val'
                     ELSE 'test'
                   END AS split,
                   len(text) AS n_chars
            FROM documents
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM assigned GROUP BY split
    """,
    "inverted_index_sample": f"""
        WITH pairs AS (
            SELECT DISTINCT token, CAST(doc_id AS BIGINT) AS doc_id
            FROM (
                SELECT doc_id,
                       unnest({_TOKENS.replace('text', 'lower(text)')}) AS token
                FROM documents
            )
        ),
        ranked AS (
            SELECT token, doc_id,
                   row_number() OVER (PARTITION BY token
                       ORDER BY doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY token) AS df
            FROM pairs
        )
        SELECT token,
               CAST(MAX(df) AS BIGINT) AS doc_freq,
               string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id ASC)
                   AS posting_sample
        FROM ranked WHERE rn <= {INDEX_POSTINGS}
        GROUP BY token
    """,
    "pmi_collocations": """
        WITH t AS (
            SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM documents
        ), uc AS (
            SELECT a, CAST(COUNT(*) AS BIGINT) AS ca
            FROM (SELECT unnest(t) AS a FROM t) GROUP BY a
        ), bc AS (
            SELECT t[i] AS a, t[i + 1] AS b,
                   CAST(COUNT(*) AS BIGINT) AS cab
            FROM t, UNNEST(range(1, len(t))) AS u(i)
            GROUP BY 1, 2
        ), tu AS (SELECT CAST(SUM(ca) AS BIGINT) AS tu FROM uc),
        tb AS (SELECT CAST(SUM(cab) AS BIGINT) AS tb FROM bc)
        SELECT bc.a, bc.b, bc.cab AS n_ab,
               round(ln((CAST(cab AS DOUBLE) / tb)
                        / ((CAST(ua.ca AS DOUBLE) / tu)
                           * (CAST(ub.ca AS DOUBLE) / tu))), 6) AS pmi
        FROM bc
        JOIN uc ua ON ua.a = bc.a
        JOIN uc ub ON ub.a = bc.b
        CROSS JOIN tu CROSS JOIN tb
        WHERE cab >= 5
        ORDER BY pmi DESC, bc.a ASC, bc.b ASC
        LIMIT 50
    """,
    "vocab_stats": f"""
        WITH toks AS (
            SELECT unnest({_TOKENS.replace('text', 'lower(text)')}) AS token
            FROM documents
        ),
        counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks GROUP BY token
        ),
        totals AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
                   CAST(SUM(n) AS BIGINT) AS total_tokens
            FROM counts
        )
        SELECT token, n, vocab_size, total_tokens
        FROM (SELECT * FROM counts ORDER BY n DESC, token ASC LIMIT 20), totals
    """,
    "cosine_topk": f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 10
        ),
        sims AS (
            SELECT q.query_id, e.vec_id AS candidate_id,
                   CAST(round(
                       list_sum(list_transform(generate_series(1, len(q.qv)),
                           i -> q.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                          * sqrt(list_sum(list_transform(
                                CAST(e.embedding AS DOUBLE[]), x -> x * x)))),
                       6) AS DOUBLE) AS cosine_sim
            FROM q, embeddings e
            WHERE q.query_id <> e.vec_id
        ),
        ranked AS (
            SELECT query_id, candidate_id, cosine_sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, candidate_id ASC) AS BIGINT) AS rank
            FROM sims
        )
        SELECT * FROM ranked WHERE rank <= {TOPK}
    """,
    "bigram_lm_scores": f"""
        WITH toks AS (
            SELECT doc_id,
                   {_TOKENS.replace('text', 'lower(text)')} AS t
            FROM documents
        ),
        db AS (
            SELECT doc_id, t[i] AS prev, t[i + 1] AS cur,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                  FROM toks)
            GROUP BY 1, 2, 3
        ),
        bi AS (
            SELECT prev, cur, CAST(SUM(k) AS BIGINT) AS cab
            FROM db GROUP BY 1, 2
        ),
        ctx AS (
            SELECT prev, CAST(SUM(cab) AS BIGINT) AS cprev
            FROM bi GROUP BY 1
        ),
        unic AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
            FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM unic)
        SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
               round(-SUM(k * ln({BIGRAM_LM_LAMBDA}
                                 * (CAST(cab AS DOUBLE) / cprev)
                                 + {1 - BIGRAM_LM_LAMBDA}
                                 * (CAST(cw AS DOUBLE) / n)))
                     / SUM(k), 6) AS avg_neg_logp
        FROM db
        JOIN bi USING (prev, cur)
        JOIN ctx USING (prev)
        JOIN unic ON unic.w = db.cur
        CROSS JOIN tot
        GROUP BY 1
    """,
    "feature_hash_docs": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({_TOKENS.replace('text', 'lower(text)')})
                       AS token
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5('fh|' || token), 1, 15))::BIGINT
                       % 512 AS bucket,
                   CASE WHEN ('0x' || substr(md5('fhs|' || token), 1, 15)
                              )::BIGINT % 2 = 1
                        THEN 1 ELSE -1 END AS sgn
            FROM toks
        )
        SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
               CAST(SUM(sgn) AS BIGINT) AS tf
        FROM hashed
        GROUP BY 1, 2
        HAVING SUM(sgn) <> 0
    """,
    "embedding_gram_matrix": """
        WITH q AS (
            SELECT list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(round(x * 1000000) AS BIGINT))
                   AS qs
            FROM embeddings
        )
        SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.j - 1 AS INT) AS j,
               CAST(SUM(CAST(qs[a.i] AS HUGEINT) * qs[b.j]) AS DOUBLE)
                   AS gram
        FROM q, range(1, 65) a(i), range(1, 65) b(j)
        WHERE b.j >= a.i
        GROUP BY 1, 2
    """,
    "embedding_norms": """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               CAST(round(sqrt(list_sum(list_transform(
                    CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS DOUBLE)
                   AS l2_norm,
               CAST(round(CAST(list_min(embedding) AS DOUBLE), 6) AS DOUBLE)
                   AS min_component,
               CAST(round(CAST(list_max(embedding) AS DOUBLE), 6) AS DOUBLE)
                   AS max_component,
               label
        FROM embeddings
    """,
}

# never-driver-checked (round 1) faces first: the registry is consumed
# in order and the driver's correctness pass may be budget-capped
QUERIES = {
    "oov_scrub_documents": oov_scrub_documents,
    "split_group_by_source": split_group_by_source,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "cosine_topk": cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_topk_portable": ann_lsh_topk_portable,
    "ann_lsh_multiprobe_topk": ann_lsh_multiprobe_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_pq_topk": ann_pq_topk,
    "embedding_norms": embedding_norms,
    "feature_hash_docs": feature_hash_docs,
    "bigram_lm_scores": bigram_lm_scores,
    "embedding_gram_matrix": embedding_gram_matrix,
    "embedding_pca_projection": embedding_pca_projection,
    "chunk_documents": chunk_documents,
    "pack_sequences": pack_sequences,
    "dataset_splits": dataset_splits,
    "vocab_stats": vocab_stats,
    "pmi_collocations": pmi_collocations,
    "inverted_index_sample": inverted_index_sample,
    "dedup_minhash_pairs_checked": dedup_minhash_pairs_checked,
    "dup_clusters": dup_clusters,
    "dedup_corpus_keep_one": dedup_corpus_keep_one,
    "repetition_stats": repetition_stats,
    "contamination_check": contamination_check,
    "cross_corpus_decontam": cross_corpus_decontam,
    "tfidf_top_terms": tfidf_top_terms,
    "dsir_importance_weights": dsir_importance_weights,
    "stratified_sample": stratified_sample,
    "temperature_sample_by_lang": temperature_sample_by_lang,
    "quality_quantile_by_lang": quality_quantile_by_lang,
    "token_budget_corpus": token_budget_corpus,
    "eval_holdout_per_lang": eval_holdout_per_lang,
    "semantic_dedup_keep_one": semantic_dedup_keep_one,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "simhash_fingerprints": simhash_fingerprints,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_exact": dedup_exact,
    "duplicate_span_pairs": duplicate_span_pairs,
    "minhash_signatures": minhash_signatures,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "text_stats": text_stats,
    "language_id": language_id,
    "doc_fingerprints": doc_fingerprints,
    "token_count_bpe": token_count_bpe,
    "quality_score": quality_score,
    "scrub_text": scrub_text,
    "normalize_text": normalize_text,
    "source_mix_summary": source_mix_summary,
    "lm_unigram_scores": lm_unigram_scores,
    "gopher_rule_filter": gopher_rule_filter,
    "nb_quality_classifier": nb_quality_classifier,
    "bpe_merge_table": bpe_merge_table,
    "bpe_compression_stats": bpe_compression_stats,
    "mixture_resample_by_source": mixture_resample_by_source,
    "boilerplate_ngrams": boilerplate_ngrams,
}
