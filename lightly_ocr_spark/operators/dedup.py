"""Deduplication operators for web-scale corpora.

All variants are expressed as DataFrame plans (one or two shuffles, no
Python row loops):

* exact     — hash-groupBy on a content fingerprint; one shuffle.
* jaccard   — token-set overlap via explode + self-equi-join on token; the
              join key is the token so Catalyst/AQE handle skew; intended
              for candidate *verification*, not all-pairs at scale.
* minhash   — k independent min-hashes (xxhash64 salted per seed) banded
              into LSH buckets; candidate pairs only ever materialize within
              a bucket, which is the scale path for 10^12 docs.
* simhash   — 64 sign votes over per-token md5 digit bits (`simhash_md5`);
              near-dups differ in few bits.

The crawl loop's cross-batch memory is two append-only indexes: the
exact one holds one content fingerprint per admitted doc, and the near
one holds one MinHash signature row per admitted doc (`sigs/`).  The
near index stores no LSH buckets: a probe derives them from the
signatures with the same `band_buckets` projection the batch side uses.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from lightly_ocr_spark.plans.relational import load, spread
from lightly_ocr_spark.sources.commit import (
    read_index,
    recover_interrupted_swap,
)

MINHASH_K = 32          # signature length
MINHASH_BANDS = 8       # 8 bands x 4 rows
NEAR_DUP_MIN_AGREEMENT = 0.5  # share of the k min-hashes a near-dup shares
NEAR_DUP_NGRAM = 3      # word shingles: shared vocabulary != near-dup


def lower_words() -> F.Column:
    """text -> array of non-empty lowercase whitespace tokens."""
    return F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )


def word_ngrams(words: F.Column, n: int) -> F.Column:
    """Word n-gram shingles (space-joined), EMPTY array when the doc has
    fewer than n words — the single shared shingle expression used by the
    minhash, decontamination, components, and repetition operators (and
    their DuckDB oracles), so the slice bounds cannot drift between
    copies.  (`_tokens` adds a whole-doc fallback for minhash: a short
    doc must still hash to SOMETHING there.)"""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _tokens(df: DataFrame, ngram: int = 1) -> DataFrame:
    """doc -> distinct lowercase shingles (exploded), all JVM-side.

    ngram=1: word tokens; ngram>=2: word n-gram shingles (order-sensitive —
    the right choice for near-dup detection over real text; unigrams
    over-trigger whenever documents share a vocabulary).

    The words array is materialized as its OWN projection before the
    shingle transform: higher-order lambdas are interpreted, and an inlined
    `split()` child is re-evaluated by every per-element `slice()` call —
    O(words^2) per document (measured 9x on the 50k-batch signature build:
    21.3s inline -> 2.4s two-step).  CollapseProject leaves the split
    materialized because the alias is referenced more than once and is
    non-cheap."""
    words = lower_words()
    if ngram <= 1:
        return (
            df.select(
                "doc_id", F.explode(F.array_distinct(words)).alias("tok")
            )
            .filter(F.length("tok") > 0)
        )
    w = df.select("doc_id", words.alias("_words"))
    wc = F.col("_words")
    shingles = F.when(
        F.size(wc) >= ngram, word_ngrams(wc, ngram)
    ).otherwise(F.array(F.concat_ws(" ", wc)))
    return (
        w.select("doc_id", F.explode(F.array_distinct(shingles)).alias("tok"))
        .filter(F.length("tok") > 0)
    )


def _md5_grams(df: DataFrame, ngram: int) -> DataFrame:
    """doc -> distinct md5'd lowercase word n-grams (exploded) — the shared
    gram projection for decontamination and dup-components.  Words are
    materialized as their own projection first (see `_tokens`: an inlined
    split is re-evaluated per lambda element, O(words^2) per doc)."""
    w = df.select("doc_id", lower_words().alias("_words"))
    return w.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.transform(word_ngrams(F.col("_words"), ngram), F.md5)
        )).alias("gram"),
    )


def exact_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: groups with >1 identical text; keeper = min doc_id.
    (Input doubled on doc_id<50 so duplicate groups actually exist.)
    NOT `spread` (round 6, measured): one md5 + 16-byte partial-agg key
    per row is too light to amortize the fan-out shuffle of the full
    text — 0.45 s serial vs 0.70 s spread at 50k docs (the map-side
    partial aggregation already shrinks what the existing Exchange
    carries to one row per distinct hash)."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.filter(F.col("doc_id") < 50))
    return (
        doubled.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _first_in_window(df: DataFrame, w) -> DataFrame:
    """The first row of each window partition, input columns only."""
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def newest_per_url(df: DataFrame) -> DataFrame:
    """url-revisit dedup: a crawl legally re-fetches the same url (WARC
    revisit records).  Keeper = newest fetch (warc_ts desc, nulls last),
    `extract_sha256` as the deterministic tiebreak."""
    return _first_in_window(df, Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), "extract_sha256"
    ))


def min_id_per_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keeper = min `id_col` per `extract_sha256` (one
    shuffle).  The one keeper rule for the curate job and the crawl
    loop's intra-batch step."""
    return _first_in_window(
        df, Window.partitionBy("extract_sha256").orderBy(id_col)
    )


def jaccard_pairs(spark: SparkSession, sf: str, max_id: int = 150,
                  threshold: float = 0.8,
                  df_cap_frac: float = 0.5) -> DataFrame:
    """N-gram (unigram) Jaccard near-dup pairs among doc_id < max_id.

    |A∩B| via token equi-join, |A|,|B| via counts; jaccard kept in exact
    integer form: inter * 100 >= threshold*100 * (|A|+|B|-inter).

    Skew guard: tokens present in more than `df_cap_frac` of the candidate
    docs are dropped BEFORE the self-join (from both the intersection and
    the set sizes — i.e. jaccard over the df-capped token sets).  Without
    this, one ubiquitous token ("the") joins every doc with every other doc
    and the equi-join key carries O(N^2) candidates no matter what AQE does;
    with it the hottest surviving key touches at most df_cap docs, so pair
    candidates are bounded by N * df_cap.  Deterministic, so the DuckDB
    oracle applies the identical cap."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") < max_id)
    return jaccard_pairs_df(d, threshold=threshold,
                            df_cap=int(max_id * df_cap_frac))


def jaccard_pairs_df(d: DataFrame, threshold: float = 0.8,
                     df_cap: int = 75) -> DataFrame:
    """Core of `jaccard_pairs` over an arbitrary (doc_id, text) frame."""
    raw = _tokens(d)
    # tokens with document frequency <= df_cap (the distinct token list is
    # dwarfed by the doc-token pairs even at 10^12 docs)
    rare = (
        raw.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("tok")
    )
    toks = raw.join(rare, "tok")
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    thr = int(round(threshold * 100))
    return (
        inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .filter(
            F.col("inter") * 100
            >= thr * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select("id_a", "id_b", "inter", "sz_a", "sz_b")
    )


def minhash_signatures(
    df: DataFrame, k: int = MINHASH_K, ngram: int = 1
) -> DataFrame:
    """doc_id -> k-column minhash signature (one shuffle: groupBy doc_id).
    The aggregates are SQL strings: built from Column objects, the k
    `min(xxhash64(...))` terms cost four Python-to-JVM calls each, 0.1-0.2
    s per plan build."""
    return _tokens(df, ngram=ngram).groupBy("doc_id").agg(*(
        F.expr(f"min(xxhash64({i}, tok)) AS mh{i}") for i in range(k)
    ))


def band_buckets(
    sig: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS
) -> DataFrame:
    """Signature frame (doc_id, mh0..mh{k-1}) -> stacked LSH bucket rows
    (doc_id, mh0..mh{k-1}, band, bh): rows-per-band split, per-band
    xxhash64, one generator.  The single shared banding projection —
    candidate-pair generation, the curation pipeline, and both sides of
    the near-dup index probe derive buckets from here so the layout
    cannot drift.  Each row carries its doc's signature, so a pair the
    bucket grouping emits can be verified where it is emitted; a caller
    that selects only (doc_id, band, bh) lets Spark prune it."""
    if k % bands:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: the trailing "
            f"{k % bands} signature columns would silently never hash "
            "into any bucket, weakening recall"
        )
    rows = k // bands
    mh = [f"mh{i}" for i in range(k)]
    buckets = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), *map(F.col, mh[b * rows:(b + 1) * rows]))
            .alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select("doc_id", *mh, F.inline(F.array(*buckets)))


def check_max_bucket(max_bucket: int | None) -> None:
    """The one rule for an LSH bucket cap, shared by `cap_buckets` and
    the curate and crawl option checks: `None` (no cap) or >= 1."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(
            f"max_bucket (--near-max-bucket) must be >= 1, got {max_bucket}"
            ": a non-positive cap drops every bucket, silently disabling "
            "near-dedup (omit the cap to disable it)"
        )


def cap_buckets(stacked: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets holding more than `max_bucket` members before any
    pair/candidate join.  A mega-bucket means a DEGENERATE band hash
    (boilerplate shingle shared corpus-wide) and contributes pairs
    quadratic in its size while carrying near-zero signal — the classic
    LSH hot-bucket scale-killer at 10^12 docs.  Skipping it degrades
    recall gracefully: a true near-dup pair still collides in any of the
    other bands (8 bands here), and byte-identical / boilerplate content
    is what exact, line, and passage dedup already catch.  `None`
    disables the cap (exact legacy behavior).

    Bucket size counts DISTINCT `doc_id`s, not rows, so an id whose rows
    repeat in `stacked` never counts twice toward the cap; every other
    column rides along untouched."""
    check_max_bucket(max_bucket)
    if max_bucket is None:
        return stacked
    keep = (
        stacked.groupBy("band", "bh")
        .agg(F.count_distinct("doc_id").alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select("band", "bh")
    )
    return stacked.join(keep, ["band", "bh"])


def _pairs_from_stacked(stacked: DataFrame, verify: bool = False) -> DataFrame:
    """Stacked bucket rows (doc_id, band, bh, ...) -> distinct candidate
    pairs (id_a < id_b) sharing at least one bucket — the single pair
    tail used by the xxhash64 fast path, the portable md5 query and the
    verified near-dup edges, so the pair semantics cannot drift between
    them.  One groupBy(band, bh) collects each bucket's members sorted by
    doc_id; each member then pairs with the members after it, one member
    per row, so a row holds one bucket's members and never its pairs, and
    the pair test is a compiled filter.  A grouping, not a self-join:
    under AQE, the two sides of a self-join are planned apart, each with
    its own copy of everything upstream (the shingle explode and the
    signature aggregation), with no reused exchange.  With `verify`,
    only pairs whose signatures, the mh columns each bucket row carries,
    reach `NEAR_DUP_MIN_AGREEMENT` are kept."""
    members = ["doc_id"]
    keep = "a.doc_id < b.doc_id"
    if verify:
        members += [f"mh{i}" for i in range(MINHASH_K)]
        keep += f" AND {_near_dup_test('a', 'b')}"
    return (
        stacked.groupBy("band", "bh")
        .agg(F.expr(f"array_sort(collect_list(struct({', '.join(members)})))"
                    " AS m"))
        .filter("size(m) > 1")
        .selectExpr("posexplode(m) AS (i, a)", "m")
        .selectExpr("a", "explode(slice(m, i + 2, size(m))) AS b")
        .filter(keep)
        .selectExpr("a.doc_id AS id_a", "b.doc_id AS id_b")
        .distinct()
    )


def band_candidate_pairs(
    sig: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Signature frame (doc_id, mh0..mh{k-1}) -> distinct candidate pairs
    (id_a < id_b) sharing at least one LSH band hash, via the shared
    `band_buckets` projection and one grouping on (band, hash).
    `max_bucket` skips degenerate hot buckets (see `cap_buckets`)."""
    return _pairs_from_stacked(
        cap_buckets(band_buckets(sig, k, bands), max_bucket)
    )


def _agreement(a: str, b: str, k: int = MINHASH_K) -> str:
    """SQL: the number of equal min-hashes between signatures `a` and
    `b`.  One SQL expression: built from Column objects, the 32-term sum
    costs ~200 driver-to-JVM calls, about 0.2 s per plan."""
    return " + ".join(f"int({a}.mh{i} = {b}.mh{i})" for i in range(k))


def signature_agreement(k: int) -> F.Column:
    """Number of equal min-hashes between the signature frames aliased
    `sa` and `sb`."""
    return F.expr(_agreement("sa", "sb", k))


def _near_dup_test(a: str, b: str) -> str:
    """SQL: signatures `a` and `b` agree on at least
    `NEAR_DUP_MIN_AGREEMENT` of their min-hashes."""
    return f"{_agreement(a, b)} >= {int(NEAR_DUP_MIN_AGREEMENT * MINHASH_K)}"


def near_dup_losers(
    sig: DataFrame, checkpoint_dir: str | None = None,
    max_bucket: int | None = None, counts: dict | None = None,
) -> DataFrame:
    """Signature frame (doc_id, mh0..mh{MINHASH_K-1}) -> doc_id of every
    near-dup that is not its cluster's keeper: candidate pairs from the
    `MINHASH_BANDS` LSH bands, verified when at least
    `NEAR_DUP_MIN_AGREEMENT` of the min-hashes agree, clustered by
    connected components; each cluster keeps its minimum id (per-pair
    "drop the larger" would under-drop transitive chains A~B~C).  The
    signature length, banding and threshold are this module's near-dup
    policy, the same for every caller, so none of them is a parameter.

    A pair is verified where the bucket grouping emits it: the bucket
    rows carry the signatures, so no join fetches them, and `sig` has
    one consumer, read once.  The result reads the components'
    checkpoint.  When `counts` is given, it receives `verified_pairs`
    and `dropped`, observed on materialisations the clustering runs
    anyway."""
    verified = _pairs_from_stacked(
        cap_buckets(band_buckets(sig), max_bucket), verify=True
    )
    comp, n_edges, n_moved = _components(
        verified, checkpoint_dir=checkpoint_dir
    )
    if counts is not None:
        counts.update(verified_pairs=n_edges, dropped=n_moved)
    return comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )


def minhash_pairs(
    spark: SparkSession, sf: str,
    k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    max_id: int = 500,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band-hash bucket join, pairs within
    buckets only (the 10^12-scale dedup path).  Input doubled on doc_id<50
    so true duplicate pairs exist.

    `max_id` bounds the candidate universe: the synthetic documents share a
    tiny vocabulary, so nearly every pair is a true near-dup and the pair
    count grows quadratically with corpus size — a data property, not an
    LSH failure (bucket join still never materializes cross-bucket pairs).

    NOT `spread` (measured at sf0.1 on 4 cores, 12 interleaved pairs
    twice): one xxhash64 per (seed, token) over <= `max_id` docs is too
    light to amortize the fan-out shuffle — 1.27 vs 1.25 s and 1.07 vs
    1.19 s median without vs with it.  The md5 twin keeps its `spread`:
    `k` md5s per token are heavy enough that the fan-out pays (without
    it 1.86 vs 1.64 s and 1.46 vs 1.35 s in the same runs)."""
    d = load(spark, sf, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < max_id
    )
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    sig = minhash_signatures(doubled, k)
    return band_candidate_pairs(sig, k, bands)


def minhash_pairs_md5(
    spark: SparkSession, sf: str,
    k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    max_id: int = 500,
) -> DataFrame:
    """PORTABLE twin of `minhash_pairs`: the k min-hashes derive from
    md5 (min over tokens of the 60-bit integer value of
    md5(i:token)[:15]), and band hashes are md5 over the comma-joined
    band minima — every step exact integer/string math DuckDB
    reproduces verbatim, so this query is fully oracle-checkable.  The
    xxhash64 operator pipeline stays the engine fast path (one cheap
    hash per (seed, token) vs an md5 here); candidate-pair semantics
    are identical (same banding, same bucket-join shape)."""
    d = spread(load(spark, sf, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < max_id
    ))
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    toks = _tokens(doubled)
    mh = toks.groupBy("doc_id").agg(*[
        F.min(F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(str(i)), F.col("tok"))), 1, 15
        ), 16, 10).cast("long")).alias(f"mh{i}")
        for i in range(k)
    ])
    rows_per_band = k // bands
    stacked = mh.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.col(f"mh{b * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ])).alias("bh"),
            )
            for b in range(bands)
        ])).alias("e"),
    ).select("doc_id", "e.band", "e.bh")
    return _pairs_from_stacked(stacked)


def simhash_md5(df: DataFrame) -> DataFrame:
    """64-bit SimHash with PORTABLE bit votes: per-token md5, one vote per
    hex digit bit — (doc_id, simhash_hex) where simhash_hex[j] encodes the
    sign votes of md5-digit j's four bits (bit b of digit j = vote of
    token md5 digit j bit b; >0 -> 1, else 0).

    Near-dups differ in few bits.  Every step — md5, hex-digit extraction,
    bit shifts, vote sums — is exact integer math DuckDB reproduces
    verbatim, so the driver gate gets a full value-hash row instead of
    rows-only evidence."""
    toks = _tokens(df).select("doc_id", F.md5("tok").alias("m"))
    digs = toks.select(
        "doc_id",
        *[
            F.conv(F.substring("m", j + 1, 1), 16, 10).cast("int")
            .alias(f"d{j}")
            for j in range(16)
        ],
    )
    votes = [
        F.sum(
            F.shiftright(F.col(f"d{i // 4}"), i % 4).bitwiseAND(F.lit(1))
            * 2 - 1
        ).alias(f"v{i}")
        for i in range(64)
    ]
    per_doc = digs.groupBy("doc_id").agg(*votes)
    hex_digit = [
        F.lower(F.conv(
            sum(
                F.when(F.col(f"v{4 * j + b}") > 0, F.lit(1 << b))
                .otherwise(F.lit(0))
                for b in range(4)
            ).cast("string"),
            10, 16,
        ))
        for j in range(16)
    ]
    return per_doc.select(
        "doc_id", F.concat(*hex_digit).alias("simhash_hex")
    )


def simhash_md5_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: portable-bit SimHash over the documents table.  Scan
    `spread` (round 6): sixteen digit extractions per token are per-row
    heavy and the single-row-group scan otherwise runs them on one core."""
    return simhash_md5(spread(load(spark, sf, "documents")
                              .select("doc_id", "text")))


def decontaminate(
    spark: SparkSession, sf: str, ngram: int = 13,
    bench_max_id: int = 5, corpus_min_id: int = 100,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any `ngram`-gram
    with a held-out benchmark set (the GPT-3-style 13-gram overlap rule for
    keeping eval sets out of training data).

    Fingerprint = md5 of the space-joined word n-gram — portable, so the
    whole op is DuckDB-oracled end to end (unlike minhash's xxhash64).
    Plan: two n-gram explodes + one equi-join on the fingerprint; the
    benchmark side is tiny by construction (eval suites are small), so
    Catalyst broadcasts it and the corpus never shuffles."""
    d = load(spark, sf, "documents").select("doc_id", "text")

    def grams(df: DataFrame) -> DataFrame:
        return _md5_grams(df, ngram)

    bench = grams(d.filter(F.col("doc_id") < bench_max_id)).select(
        "gram"
    ).distinct()
    # corpus = the id>=corpus_min_id docs PLUS planted copies of the
    # benchmark docs (relabeled +10^6) — random synthetic text never shares
    # a 13-gram by chance, so the planted rows are what the op must catch
    planted = d.filter(F.col("doc_id") < bench_max_id).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = grams(
        d.filter(F.col("doc_id") >= corpus_min_id).unionByName(planted)
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def _materialize(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    if checkpoint_dir is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _components(
    edges: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int, int]:
    """`connected_components`, plus the number of input edge rows and the
    number of output ids whose component is not themselves, both
    observed on materialisations the rounds run anyway."""
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    obs = Observation()
    # undirected edges as (src >= dst), materialised ONCE: the first
    # round is the only reader, but the count decides whether to run one
    e = _materialize(
        edges.select(F.greatest("id_a", "id_b").alias("src"),
                     F.least("id_a", "id_b").alias("dst"))
        .observe(obs, F.count(F.lit(1)).alias("n")),
        checkpoint_dir,
    )
    n_edges = int(obs.get["n"])

    def labels(stars: DataFrame) -> DataFrame:
        return stars.select(F.col("src").alias("id"),
                            F.col("dst").alias("component"))

    if n_edges == 0:
        return labels(e), 0, 0
    for _ in range(max_iter):
        obs = Observation()
        # large-star: each node u sees its whole neighbourhood n; with
        # m = min(n + u), it keeps (u, m) and links every larger
        # neighbour to m.  A node is settled when it is a star centre
        # (no smaller neighbour) or a leaf (its one neighbour smaller).
        # SQL strings cost one driver-to-JVM call per expression; Column
        # objects cost one per expression node, ~0.1 s more per round
        large = (
            e.selectExpr("inline(array(named_struct('u', src, 'v', dst), "
                         "named_struct('u', dst, 'v', src)))")
            .groupBy("u").agg(F.expr("collect_set(v) AS n"))
            .selectExpr("u", "n", "least(u, array_min(n)) AS m")
            .observe(
                obs,
                F.expr("count_if(m < u AND size(array_remove(n, u)) > 1)"
                       " AS unsettled"),
                F.expr("count_if(m < u) AS leaves"),
            )
            .selectExpr("explode(array_union(array(u), filter(n, v -> v > u)))"
                        " AS src", "m AS dst")
        )
        # small-star: each node u, with d its smaller-or-equal
        # neighbours and m = min(d + u), keeps (u, m) and links every
        # other member of d to m — one row per node once all are settled
        small = (
            large.groupBy("src").agg(F.expr("collect_set(dst) AS d"))
            .selectExpr("src", "d", "least(src, array_min(d)) AS m")
            .selectExpr("explode(array_union(array(src), "
                        "filter(d, v -> v != m))) AS src", "m AS dst")
        )
        e = _materialize(small, checkpoint_dir)
        if obs.get["unsettled"] == 0:
            return labels(e), n_edges, int(obs.get["leaves"])
    # silent non-convergence would split a real cluster into bogus
    # components — a wrong answer is worse than an error
    raise RuntimeError(
        f"connected_components did not converge within max_iter="
        f"{max_iter} rounds ({obs.get['unsettled']} nodes not yet in a "
        "star); raise max_iter"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Distributed connected components over near-dup candidate pairs:
    (id_a, id_b) edges -> (id, component) where component = the smallest id
    reachable from `id` (the cluster keeper).  The output covers exactly
    the edge endpoints; a caller that wants isolated nodes in it passes
    their (id, id) self-edges.

    Near-dup pairs are transitive in practice (A~B, B~C) and per-pair
    "drop the larger" mishandles chains; clustering makes one keeper per
    component.  Algorithm: large-star/small-star over the edge list
    itself (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — no labels frame and no joins.  Each round is a
    large-star half (every node links its larger neighbours to its
    neighbourhood minimum) then a small-star half (every node links
    itself and its smaller neighbours to their minimum); each half is
    one groupBy on the node, so a round is two shuffles and ONE
    materialisation, a few Spark jobs.  The edges shrink towards one
    star per component, centred on its minimum; rounds grow with the
    log of the diameter (a 40-node path takes 7, a 10^5-node path 18).

    Convergence test: the large-star groupBy sees every node's whole
    neighbourhood, so an `Observation` riding the round's one
    materialisation counts the nodes that are neither a star centre nor
    a leaf with a single, smaller neighbour.  Zero means the round's
    input was already one star per component, and its output is the
    answer, one row per node.  `max_iter` is a safety bound and
    NON-convergence raises.  A set of zero edges runs no round.  Each
    round is checkpointed, so the plan does not grow with iterations
    (lineage blowup is the classic failure of iterative DataFrame
    algorithms).  A huge component puts its whole membership in one
    group of the centre's neighbourhood: near-dup clusters are small.

    Durability: with `checkpoint_dir` set, rounds use RELIABLE
    `df.checkpoint()` into that directory — on a multi-executor cluster a
    lost executor recomputes from the checkpoint files instead of killing
    the job (localCheckpoint blocks are executor-local and unrecoverable
    once lineage is truncated).  Default (None) keeps the cheaper
    `localCheckpoint`, appropriate for local mode and tests."""
    return _components(edges, max_iter, checkpoint_dir)[0]


def dup_components(
    spark: SparkSession, sf: str, ngram: int = 13, max_id: int = 150
) -> DataFrame:
    """Dedup clusters as a driver query: nodes are doc_id < max_id plus two
    generations of planted clones (+10^6, +2*10^6 for doc_id < 20); edges
    connect docs sharing any `ngram`-gram (md5 fingerprints — portable, so
    the WHOLE iterative algorithm is DuckDB-oracled via a recursive CTE).
    Output: (doc_id, component) with component = min doc_id of the
    cluster; singletons map to themselves through their self-edge."""
    d = load(spark, sf, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < max_id
    )
    clones = d.filter(F.col("doc_id") < 20)
    nodes_df = d.unionByName(
        clones.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).unionByName(
        clones.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    )

    g = _md5_grams(nodes_df, ngram)
    a, b = g.alias("a"), g.alias("b")
    edges = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    ).unionByName(nodes_df.select(F.col("doc_id").alias("id_a"),
                                  F.col("doc_id").alias("id_b")))
    comp = connected_components(edges)
    return comp.select(F.col("id").alias("doc_id"), "component")


def line_dedup_docs(docs: DataFrame, min_docs: int = 5) -> DataFrame:
    """Corpus-level boilerplate LINE removal (the RefinedWeb/CCNet move the
    reference's per-image pipeline has no analog for): any exact line that
    appears in >= `min_docs` DISTINCT documents is navigation/cookie/footer
    chrome, not content — strip it from every document and reassemble the
    survivors in original order.  Documents whose every line was chrome
    drop out entirely.

    Plan (2 shuffles, both on near-uniform keys): posexplode lines ->
    count-distinct docs per line FINGERPRINT (md5 — the aggregation and
    the anti-join shuffle 16-byte keys, never the line text itself;
    128-bit collisions are negligible even at 10^12 lines, where a 64-bit
    key would already collide tens of thousands of times) -> left_anti
    join the hot set back onto the exploded lines (AQE broadcasts it when
    the chrome vocabulary is small, which it always is relative to the
    corpus) -> groupBy doc, array_sort by position, join with newline."""
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    hot = (
        lines.groupBy("lh")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lh")
    )
    kept = lines.join(hot, "lh", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text")
        )
    )


def line_dedup(spark: SparkSession, sf: str, min_docs: int = 5) -> DataFrame:
    """Driver query for line-level dedup: the flat documents table gains
    deterministic 'lines' (8-word chunks) plus planted chrome — a cookie
    banner on EVERY doc and a newsletter footer on every third — then
    line_dedup_docs strips exactly the chrome (the 8-word body chunks of
    the tiny-vocab corpus stay under min_docs).  Fully DuckDB-oracled:
    the oracle rebuilds the same lines and filters them with a list
    comprehension instead of the join (same result, different plan).

    Corpus-shape assumption (query construction only, not the operator):
    the oracle filters the constructed CHUNK list, while the engine
    operator re-splits the joined text on newline — equivalent iff the
    source text contains no embedded newlines (true of the driver
    fixture; the randomized fuzz covers this query with a newline-free
    corpus, and `line_dedup_docs` itself is input-agnostic).

    Round 6: the scan is `spread` (single-row-group parquet scans as ONE
    task — guide §2.5), and the final orderBy is gone (guide §2.4: an
    Exchange + sort purely for output cosmetics; the driver gate and the
    oracle compare order-insensitively, and the oracle SQL has no ORDER
    BY either)."""
    d = spread(load(spark, sf, "documents").select("doc_id", "text"))
    w = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(w) / F.lit(8)).cast("int")
    body = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * 8 + 1, 8)),
    )
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("cookie notice accept all terms"),
            F.array_join(body, "\n"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("subscribe to the newsletter today")),
        ).alias("text"),
    )
    return line_dedup_docs(lined, min_docs=min_docs)


def write_fingerprint_index(
    docs: DataFrame, path: str, id_col: str = "doc_id",
) -> None:
    """Append the docs' content fingerprints to the exact-dedup index at
    `path` (the first append creates it): one row per doc, (fp =
    `extract_sha256`, first_id = id), partitioned by the fingerprint's
    first hex byte (256 near-uniform partitions).  The continuous-crawl
    primitive: dedup of batch N+1 never rescans the corpus — it
    anti-joins this index (`incremental_exact_dedup`).

    The frame is hash-repartitioned on fp_prefix before the write so each
    append lands ONE file per partition dir — without this, every writing
    task touches all 256 dirs (~48 tasks x 256 dirs = ~12k tiny files per
    batch) and the next batch's anti-join scan pays a growing
    many-thousand-file listing (measured: per-batch crawl wall drifted
    12.8 -> 18.4s over four appends; flat after).

    An interrupted compaction swap is recovered first: an append landing
    between the two swap renames would otherwise recreate `path` and
    strand the backup for good, silently shrinking the fingerprint
    corpus."""
    recover_interrupted_swap(path)
    docs.select(
        F.col("extract_sha256").alias("fp"),
        F.col(id_col).alias("first_id"),
    ).withColumn("fp_prefix", F.substring("fp", 1, 2)).repartition(
        "fp_prefix"
    ).write.mode("append").partitionBy("fp_prefix").parquet(path)


def incremental_exact_dedup(
    spark: SparkSession, new_batch: DataFrame, index_path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a NEW crawl batch against the persisted fingerprint
    index.  Compute only: the caller appends the survivors with
    `write_fingerprint_index` once its own commit allows.

    Two steps, neither touching corpus text: (1) intra-batch exact dedup
    (`min_id_per_content`); (2) anti-join the batch's `extract_sha256`
    against the index's `fp` (the shuffle carries 64-hex hashes, and the
    index side is scanned, never rewritten).  Returns the surviving rows
    with all input columns, eagerly materialised: Spark recaches a plan
    whose source path is written, so a frame that still read the index
    would be re-evaluated against the caller's later append and come back
    empty.  At 10^12 docs the index is itself big — but it is
    hash-partitioned, compact (one 64-hex row per doc), and this plan
    reads it once per batch instead of re-fingerprinting the corpus."""
    fresh = min_id_per_content(new_batch, id_col)
    index = read_index(spark, index_path)
    if index is not None:
        fresh = fresh.join(
            index.select(F.col("fp").alias("extract_sha256")),
            "extract_sha256", "left_anti",
        )
    return fresh.localCheckpoint(eager=True)


def write_minhash_index(sigs: DataFrame, path: str) -> None:
    """Append a signature frame (doc_id, mh0..mh{k-1}) to the corpus
    NEAR-dup index at `path` (the first append creates it): one flat
    `sigs/` dataset, one row per admitted doc.  It is the whole index —
    the LSH bucket rows are a pure function of the signatures, so
    `incremental_near_dedup` derives them at probe time.  (An index
    written with an earlier `buckets/` sub-dataset next to `sigs/`
    reads unchanged; that directory is never read.)

    IDEMPOTENT BY CONSTRUCTION: already-indexed doc_ids are anti-joined
    out against the existing sigs/ before anything is written, so a
    crash-replay that recomputes the same survivor set appends nothing.
    (Self-match through the candidate join cannot provide this: a
    bucket cap can legally suppress a capped doc's self-match; the
    anti-join holds under ANY candidate-generation settings.)  A doc_id
    already present keeps its ORIGINAL signature — a re-crawled url
    whose content changed is not re-indexed, matching the exact index's
    one-fingerprint-per-admission semantics.  An interrupted compaction
    swap of sigs/ is recovered (by `read_index`) before the append.

    An append with no new rows writes no file: an empty one would still
    be listed and opened by every later probe."""
    new_sigs = sigs
    existing = read_index(sigs.sparkSession, f"{path}/sigs")
    if existing is not None:
        # the anti-join plan reads path/sigs, which the write below
        # updates — break lineage first or the write recaches the plan
        # and re-evaluates it against the post-append state
        new_sigs = sigs.join(
            existing.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
    if not new_sigs.isEmpty():
        new_sigs.write.mode("append").parquet(f"{path}/sigs")


def incremental_near_dedup(
    spark: SparkSession, new_batch: DataFrame, index_path: str,
    id_col: str = "doc_id", max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dedup a NEW crawl batch against the persisted minhash index —
    the MinHash-LSH twin of `incremental_exact_dedup`, and the missing
    piece of a continuous-crawl loop (exact dedup alone lets
    trivially-mutated boilerplate re-enter the corpus every batch).
    Compute only: the caller appends the returned signatures with
    `write_minhash_index` once its own commit allows.

    Plan, none of it rescanning corpus text:
      1. batch signatures over `NEAR_DUP_NGRAM` shingles of `text` (one
         groupBy) — persisted: they feed candidate generation, BOTH
         verification sides, and the survivor signatures;
      2. CROSS candidates: batch buckets equi-join the index's buckets
         on (band, bh) — both sides derived by the same `band_buckets`
         projection, the index side from its `sigs/` at probe time;
         uniform hash keys, candidates bounded by bucket collisions,
         never all-pairs;
      3. verify candidates by full-signature agreement (>=
         `NEAR_DUP_MIN_AGREEMENT` of the k minhashes) joining batch sigs
         with ONLY the candidate corpus sigs; any verified match drops
         the batch doc (the corpus copy is the cluster keeper);
      4. INTRA-batch near-dedup among the remainder: `near_dup_losers`,
         the same clustering the curation pipeline runs.

    Returns `(survivors, survivor_sigs)`, both eagerly materialised: the
    surviving rows with all input columns (safe to act on after any
    later index write), and their signature frame, so the append never
    recomputes the signature aggregation.  Dropped near-dups' signatures
    are not returned — each cluster is represented by its keeper,
    exactly like the batch curation pipeline.  Replaying a batch after
    its append drops nothing twice: `write_minhash_index` anti-joins
    already-indexed doc_ids (self-match in step 3 cannot be relied on,
    because a bucket cap legally suppresses it for capped docs)."""
    idx_sigs = read_index(spark, f"{index_path}/sigs")
    batch = new_batch.withColumnRenamed(id_col, "doc_id")
    sig_b = minhash_signatures(
        batch.select("doc_id", "text"), ngram=NEAR_DUP_NGRAM
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cross_drops = None
        if idx_sigs is not None:
            # the cap applies to BOTH sides: a degenerate band hash grows
            # a mega-bucket on the index side too, and the cross
            # equi-join on it would be |batch-bucket| x |index-bucket|.
            # The index-side size test runs over ONLY the buckets the
            # batch touches (the restricting join keeps each touched
            # bucket's full membership, so the test is exact) — capping
            # the whole index would add a full-index aggregate per batch
            # that grows with the corpus.
            idx_buckets = band_buckets(idx_sigs).select(
                "doc_id", "band", "bh"
            )
            bb = cap_buckets(band_buckets(sig_b), max_bucket)
            if max_bucket is not None:
                idx_buckets = cap_buckets(
                    idx_buckets.join(
                        bb.select("band", "bh").distinct(), ["band", "bh"]
                    ),
                    max_bucket,
                )
            idx_buckets = idx_buckets.withColumnRenamed("doc_id", "corpus_id")
            cand = (
                bb.join(idx_buckets, ["band", "bh"])
                .select("doc_id", "corpus_id")
                .distinct()
            )
            # cross_drops embeds the bucket + verification joins against
            # the GROWING index, and it feeds THREE consumers (the
            # survivor anti-join, and sig_rem's every evaluation) —
            # eagerly checkpoint the (tiny: verified drop ids only)
            # frame, or each consumer re-runs the index joins and
            # per-batch wall grows with corpus size (measured: near leg
            # 12 -> 19.5s over four 50k batches; flat ~10s after)
            cross_drops = (
                cand.join(sig_b.alias("sa"), "doc_id")
                .join(idx_sigs.select(
                    F.col("doc_id").alias("corpus_id"),
                    *[F.col(f"mh{i}") for i in range(MINHASH_K)],
                ).alias("sb"), "corpus_id")
                .filter(_near_dup_test("sa", "sb"))
                .select("doc_id")
                .distinct()
            ).localCheckpoint(eager=True)
        # sig_rem feeds two consumers, the bucket grouping and the
        # survivor sigs; each reads sig_b's cache through one anti-join
        # against a checkpointed frame, so sig_rem itself is not persisted
        sig_rem = (
            sig_b.join(cross_drops, "doc_id", "left_anti")
            if cross_drops is not None else sig_b
        )
        intra_drops = near_dup_losers(sig_rem, max_bucket=max_bucket)
        # anti-joins, not a semi-join against sig_rem: a doc with no
        # tokens has no signature at all — it cannot near-dup anything
        # and must SURVIVE, not silently vanish with the dropped set
        survivors = batch
        if cross_drops is not None:
            survivors = survivors.join(cross_drops, "doc_id", "left_anti")
        # materialize before releasing the signature caches and before
        # the caller's append: (a) the survivor plan reads index_path,
        # and Spark recaches plans whose source path is written (the
        # append would silently re-evaluate the returned frame against
        # the post-append index, where every survivor self-matches);
        # (b) the caller's first action would otherwise re-run the whole
        # signature aggregation after the caches are released.
        survivors = survivors.join(
            intra_drops, "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        survivor_sigs = sig_rem.join(
            intra_drops, "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
    finally:
        # release the caches even on failure (a raised corrupt-index read
        # must not leak a persisted corpus-scale frame)
        sig_b.unpersist()
    return survivors.withColumnRenamed("doc_id", id_col), survivor_sigs


def passage_dedup_docs(
    d: DataFrame, id_col: str = "doc_id", n: int = 8, min_docs: int = 2,
) -> DataFrame:
    """Duplicate-PASSAGE removal (the positional generalization of
    line-level dedup, after Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): any n-token span whose n-gram occurs
    in >= `min_docs` DISTINCT documents is cut from every document, and
    the surviving tokens are reassembled in order.  Line dedup only
    catches chrome that happens to be line-aligned; this catches shared
    boilerplate sentences and license blocks at ANY position.

    Plan, all JVM (one explode per token-gram, two shuffles on uniform
    16-byte md5 keys — never passage text):
      1. (doc, pos, md5(n-gram)) via transform+slice, one posexplode;
      2. gram document frequency -> the common set (HAVING df >= min_docs);
      3. equi-join occurrences with the common set; each hit covers
         positions [pos, pos+n) — one sequence explode, distinct;
      4. per-doc covered-position set -> index-aware `filter` rebuild
         (lambda (tok, i)) and a single concat_ws.

    Tokens are case-SENSITIVE (passages must match byte-wise, matching
    the exact-dedup philosophy); docs with NO removed passage keep their
    original text byte-for-byte (including newlines/tabs/multi-space —
    only docs a passage was actually cut from are reassembled
    single-spaced); a fully-covered doc yields an empty string (caller
    gates).  Output: every input row and column, plus `cleaned` and
    `n_removed_tokens` — a caller swaps the text in one projection
    instead of joining the result back by id.

    Round-6 plan shape (guide §2.4/§2.3; before: 5 Exchanges, the gram
    build evaluated TWICE in two scan branches, and an 8x position
    explode feeding collect_set — 17.7 s single-task at 50k docs):
      * no fan-out of its own: a caller reading a single-row-group scan
        (the `passage_dedup` query) passes `spread(scan)`, whose Exchange
        the gram branch and the rebuild join share; probing an arbitrary
        input's partitioning here would run its shuffles at plan time;
      * the exploded grams are hash-repartitioned on gh, so the
        document-frequency aggregate needs no further Exchange.  The
        executed plan does NOT reuse that Exchange for the hit join:
        pruning drops `pos` from the frequency branch, the two Exchanges
        differ, and the gram/md5 build runs twice;
      * hits aggregate as collect_set(pos) — one row per hit instead of
        n exploded cover rows — and each doc's covered-position set is
        expanded JVM-side (flatten of n-long sequences + array_distinct,
        identical set to the old exploded collect_set)."""
    words = F.filter(
        F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0
    )
    w = d.select("*", words.alias("_w"))
    # the short-doc gate lives INSIDE the gram expression (empty array ->
    # posexplode drops the row) instead of a .filter(): a row filter
    # would be pushed below a caller's spread Exchange, re-serializing
    # the split/size work on the unsplit scan and forking the scan into
    # non-reusable per-branch variants
    gram = F.when(
        F.size("_w") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - n),
            lambda p: F.md5(
                F.concat_ws(" ", F.slice(F.col("_w"), p + 1, n))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        w.select(id_col, F.posexplode(gram).alias("pos", "gh"))
        .repartition(F.col("gh"))
    )
    common = (
        g.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gh")
    )
    cov = (
        g.join(common, "gh")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_ps"))
    )
    # distinct covered positions, expanded from the per-hit start set —
    # materialized as its OWN projection (the `_tokens` lesson: an alias
    # referenced twice below must not be re-inlined per reference)
    cps = F.array_distinct(F.flatten(F.transform(
        "_ps", lambda p: F.sequence(p, p + (n - 1))
    )))
    covd = w.join(cov, id_col, "left").select(
        *d.columns, "_w", cps.alias("_cps")
    )
    keep = F.filter(
        F.col("_w"),
        lambda x, i: ~F.array_contains("_cps", i),
    )
    return covd.select(
        *d.columns,
        # untouched docs keep their ORIGINAL text byte-for-byte —
        # rebuilding them through split+concat_ws would silently
        # collapse newlines/tabs/multi-spaces corpus-wide
        F.when(F.col("_cps").isNotNull(), F.concat_ws(" ", keep))
        .otherwise(F.col("text")).alias("cleaned"),
        F.coalesce(F.size("_cps"), F.lit(0)).cast("long")
        .alias("n_removed_tokens"),
    )


def passage_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: remove cross-document duplicate 8-gram passages over
    the documents table.  The synthetic corpus shares templated sentences
    across documents, so real passages are removed.  Fully DuckDB-oracled
    (md5 grams are portable; positional math is exact integers)."""
    d = spread(load(spark, sf, "documents").select("doc_id", "text"))
    return passage_dedup_docs(d).select(
        "doc_id", "cleaned", "n_removed_tokens"
    )
