"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID, document fingerprinting.

All JVM-side (`pyspark.sql.functions` only — whole-stage codegen'd, no
Python in the hot path).  Counting tricks stay in integer domain so the
DuckDB oracles compare exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lightly_ocr_spark.plans.relational import load, spread

# language markers: (lang, stopword with flanking spaces)
LANG_MARKERS = [
    ("en", " the "),
    ("fr", " la "),
    ("es", " el "),
    ("de", " der "),
]


# `token_gate`'s threshold: minimum whitespace tokens per doc
MIN_TOKENS = 10


def n_tokens() -> Column:
    """Non-empty whitespace tokens in `text` — the one token count
    behind `token_gate`.  Empty pieces are dropped rather than trimmed
    away: `F.trim` strips only spaces, so a leading or trailing
    tab/newline would otherwise count as a phantom token."""
    return F.size(F.filter(
        F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0
    ))


def token_gate(df: DataFrame) -> DataFrame:
    """The curate and crawl quality gate: adds `n_tokens` and keeps the
    rows with at least `MIN_TOKENS`."""
    return df.withColumn("n_tokens", n_tokens().cast("long")).filter(
        F.col("n_tokens") >= MIN_TOKENS
    )


def _occurrences(col: Column, needle: str) -> Column:
    """Exact substring-occurrence count via length arithmetic (portable to
    any SQL engine, integer-exact)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


# GPT-2-style pretokenizer, lookahead-free so Java regex (Spark) and RE2
# (DuckDB) agree: a token is an optionally-space-prefixed letter run, digit
# run, or symbol run; residual whitespace runs count as one token each.
BPE_TOKEN_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace token count + BPE-ish pretokenizer count (regex matches,
    JVM-side) + chars/4 subword estimate.  Scan `spread` (round 6, guide
    §2.5: per-row regex work over a single-row-group file runs serially
    otherwise — same for every spread scan below)."""
    d = spread(load(spark, sf, "documents"))
    txt = F.trim(F.col("text"))
    return d.select(
        "doc_id",
        F.when(F.length(txt) == 0, F.lit(0))
        .otherwise(F.size(F.split(txt, r"\s+")))
        .cast("long")
        .alias("n_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.ceil(F.length(txt) / 4).cast("long").alias("n_subword_est"),
    )


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Length / punctuation / stopword signals, integer-exact."""
    d = spread(load(spark, sf, "documents"))
    t = F.col("text")
    n_punct = (
        F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    ).cast("long")
    n_the = _occurrences(t, " the ")
    n_space = _occurrences(t, " ")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_obs"),
        n_punct.alias("n_punct"),
        n_the.alias("n_stop_the"),
        n_space.alias("n_spaces"),
        (F.length(t) >= 200).cast("int").alias("len_ok"),
    )


def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-count language ID (n-gram heuristic; ties resolve in fixed
    marker order)."""
    # One spark.sql() call: the whole expression tree is built and analyzed
    # JVM-side (building it via Column operators paid seconds of py4j +
    # analysis overhead per session for zero runtime benefit).
    spread(load(spark, sf, "documents")).createOrReplaceTempView(
        "docs_langid")
    count_exprs = ", ".join(
        f"CAST((length(s) - length(replace(s, '{mk}', ''))) / {len(mk)} "
        f"AS BIGINT) AS n_{lang}"
        for lang, mk in LANG_MARKERS
    )
    names = ", ".join(f"n_{lang}" for lang, _ in LANG_MARKERS)
    first, *rest = LANG_MARKERS
    case = (
        f"CASE WHEN greatest({names}) = 0 THEN 'und' "
        + f"WHEN n_{first[0]} = greatest({names}) THEN '{first[0]}' "
        + " ".join(
            f"WHEN n_{lang} = greatest({names}) THEN '{lang}'"
            for lang, _ in rest[:-1]
        )
        + f" ELSE '{rest[-1][0]}' END AS pred_lang"
    )
    return spark.sql(
        f"SELECT doc_id, {names}, {case} FROM (SELECT doc_id, {count_exprs} "
        "FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS s "
        "FROM docs_langid))"
    )


def budget_select_df(
    d: DataFrame, budget_tokens: int, shards: int = 8,
) -> DataFrame:
    """Per-source TOKEN-BUDGET selection — the data-budget step of an LLM
    corpus mix: admit documents per group (`source`) in a deterministic
    content-keyed order until the group's cumulative whitespace-token
    count would exceed `budget_tokens`; the first doc that crosses the
    budget (and everything after it) is cut.

    Order is md5(source:doc_id) — a seeded shuffle within each group, so
    the admitted subset is an unbiased sample of the group, stable under
    replay / cluster size / partitioning (the same property the
    hash-mod stratified sampler relies on), and portable, so the whole
    selection is DuckDB-oracle-checkable.

    Round-6 plan: SHARDED two-phase windows (the `per_host_cap` pattern
    — guide §2.5 skew), so a zipf-hot group never serializes its whole
    running-sum sort into one task:

    * phase 1 windows over (group, crc32-shard).  The shard-local
      cumulative sum is a lower bound of the group cumulative sum in
      the same order (it sums a subset of the same prefix), so any row
      whose shard sum exceeds the budget is provably over budget and is
      cut; each shard keeps at most ~budget worth of tokens.
    * the group cumulative sum is MONOTONE along the order (token
      counts are non-negative), so every row ordered at-or-after a
      group's FIRST cut row is also provably over budget.  Phase 1
      therefore also records, per group, the minimum (order, id) among
      its cut rows.
    * phase 2 runs the exact window over the bounded survivors only and
      keeps rows under budget that order strictly BEFORE the group's
      first cut — for exactly those rows every true predecessor is a
      survivor, so the survivors-only running sum IS the group running
      sum and the emitted cum_tokens is exact.

    Identity with the single-window plan is asserted in tests at shard
    counts {1, 3, 8, 64}; the DuckDB oracle stays the plain window SQL.

    Output: (doc_id, source, n_tokens, cum_tokens) for admitted docs
    only."""
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    txt = F.trim(F.col("text"))
    n_tokens = (
        F.when(F.length(txt) == 0, F.lit(0))
        .otherwise(F.size(F.split(txt, r"\s+")))
        .cast("long")
    )
    order_key = F.md5(F.concat_ws(
        ":", F.col("source"), F.col("doc_id").cast("string")
    ))
    base = d.select(
        F.col("doc_id"), F.col("source"), n_tokens.alias("n_tokens"),
        order_key.alias("_ok"),
    )
    shard = F.crc32(F.col("doc_id").cast("string")) % shards
    w1 = (
        Window.partitionBy("source", shard)
        .orderBy(F.col("_ok"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p1 = base.withColumn("_scum", F.sum("n_tokens").over(w1))
    okey = F.struct(F.col("_ok"), F.col("doc_id"))
    cuts = (
        p1.filter(F.col("_scum") > budget_tokens)
        .groupBy("source")
        .agg(F.min(okey).alias("_first_cut"))
    )
    survivors = p1.filter(F.col("_scum") <= budget_tokens).drop("_scum")
    w2 = (
        Window.partitionBy("source")
        .orderBy(F.col("_ok"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        survivors.join(cuts, "source", "left")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w2))
        .filter(
            (F.col("cum_tokens") <= budget_tokens)
            & (F.col("_first_cut").isNull() | (okey < F.col("_first_cut")))
        )
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def budget_select(spark: SparkSession, sf: str,
                  budget_tokens: int = 5000) -> DataFrame:
    """Driver query: per-source token budget over the documents table."""
    d = load(spark, sf, "documents")
    return budget_select_df(d, budget_tokens)


STRATA_FRACTIONS = {"en": 0.5, "fr": 0.5, "es": 0.5, "de": 0.2, "zh": 0.2}


def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language stratified subsample (training-corpus rebalancing).

    Selection is a deterministic content-keyed Bernoulli: keep a row when
    the 12-bit bucket conv(md5(lang:doc_id)[:3], 16, 10) falls below
    round(frac * 4096).  No RNG stream — the sample is a pure row-local
    expression, identical on any cluster size / partitioning / replay
    (what an incremental pipeline actually wants: re-sampling the same
    corpus yields the same rows), and portable, so the driver gate gets a
    full value-hash row.  DuckDB's ('0x'||hex)::BIGINT parses hex exactly
    like Spark's conv(hex, 16, 10) (verified).  A stratum absent from the
    fraction map is dropped, matching sampleBy semantics."""
    d = load(spark, sf, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", "lang", F.col("doc_id").cast("string"))),
            1, 3,
        ),
        16, 10,
    ).cast("int")
    thr = F.lit(0)
    for lang, frac in STRATA_FRACTIONS.items():
        thr = F.when(F.col("lang") == lang,
                     F.lit(int(round(frac * 4096)))).otherwise(thr)
    return d.filter(bucket < thr).select("doc_id", "lang", "n_chars")


def per_host_cap(spark: SparkSession, sf: str, cap: int = 3,
                 shards: int = 8) -> DataFrame:
    """Per-host document cap — the standard CC curation guard against one
    domain flooding the corpus: keep the first `cap` docs per host
    (deterministic order), emit host + rank for auditability.

    Two-phase plan, skew-proof: phase 1 windows over (host, shard) where
    shard = crc32(key) % shards, keeping `cap` per shard — the survivor set
    per host is at most cap*shards rows and provably contains the true
    first-`cap` (each shard keeps its own smallest keys).  Phase 2 runs the
    exact window on survivors only.  A zipf-hot host with 10^9 docs costs
    one 10^9-row sort in the naive single-window plan; here its phase-1
    work spreads over `shards` tasks and phase 2 sorts cap*shards rows.
    Results are identical to the single window (asserted in tests), so the
    DuckDB oracle stays the plain window form."""
    d = load(spark, sf, "documents")
    url = F.concat(
        F.lit("https://host"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    host = F.regexp_extract(url, r"^[^:]+://([^/]+)", 1)
    return host_cap_df(
        d.select("doc_id", host.alias("host")),
        order_col="doc_id", cap=cap, shards=shards,
    )


def host_expr(url) -> "F.Column":
    """Host key for grouping/capping, robust to scheme-only URIs: the
    netloc when the url has a '://' authority, else the parent path (last
    segment stripped).  binaryFile paths are 'file:/...' — single slash,
    no authority — so the plain netloc regex returned '' for every local
    file and host-keyed ops collapsed the whole corpus into one bucket;
    the directory fallback buckets a crawl-dump by folder instead."""
    url = F.col(url) if isinstance(url, str) else url
    netloc = F.regexp_extract(url, r"^[^:]+://([^/]+)", 1)
    parent = F.regexp_replace(url, r"/[^/]*$", "")
    return F.when(netloc != "", netloc).otherwise(parent)


def host_cap_df(d: DataFrame, order_col: str, cap: int,
                shards: int = 8) -> DataFrame:
    """Core two-phase per-host cap over (host, <order_col>, ...) rows."""
    shard = F.crc32(F.col(order_col).cast("string")) % shards
    w1 = Window.partitionBy("host", shard).orderBy(F.col(order_col))
    survivors = (
        d.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1")
    )
    w2 = Window.partitionBy("host").orderBy(F.col(order_col))
    return (
        survivors.withColumn("host_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("host_rank") <= cap)
    )


def url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization for crawl keys: lowercase scheme+host, strip
    fragment, strip common tracking params, drop trailing slash.  Pure
    regexp chains (portable to any SQL engine).  Demo'd over synthetic urls
    built from the documents table."""
    d = load(spark, sf, "documents")
    raw = F.concat(
        F.lit("HTTPS://Host"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/Path/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=x&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=y#frag"),
    )
    u = F.regexp_replace(raw, r"#.*$", "")                  # fragment
    # tracking params, lookbehind-free (portable to RE2 engines):
    # mid params: anchored to a [?&] delimiter (kept via $1) so a literal
    # 'utm_' inside another parameter's VALUE is never clipped; the (...)+
    # run eats ADJACENT tracking params in one match — single-pass
    # non-overlapping replacement would leave the second of
    # '?utm_a=1&utm_b=2&id=3' behind because its '&' anchor was consumed
    u = F.regexp_replace(u, r"([?&])(?:utm_[^&]*&)+", "$1")
    u = F.regexp_replace(u, r"[?&]utm_[^&]*$", "")          # trailing param
    u = F.regexp_replace(u, r"[?&]$", "")                   # dangling sep
    # lowercase scheme://host only (path stays case-sensitive)
    scheme = F.lower(F.regexp_extract(u, r"^([^:]+)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:]+://([^/]+)", 1))
    rest = F.regexp_replace(u, r"^[^:]+://[^/]+", "")
    rest = F.regexp_replace(rest, r"/$", "")
    u = F.concat(scheme, F.lit("://"), host, rest)
    return d.select("doc_id", raw.alias("raw_url"), u.alias("canon_url"))


def fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: md5 + sha256 over whitespace-normalized text
    (rolling-hash analog in fixed-width form)."""
    d = spread(load(spark, sf, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm, 256).alias("fp_sha256"),
    )


def repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals, integer/rounded-exact:
    distinct-word fraction and the share of all word-bigrams taken by the
    single most frequent bigram.  High top-bigram share or low distinct
    fraction marks boilerplate/spam for the quality gate.

    Plan: top-bigram counts go through explode -> groupBy(doc, bigram) ->
    max — linear work per document (an array-expression variant computing
    counts per distinct bigram in place is O(words²) per row: measured
    50s vs 2s on 500 synthetic docs, and it only worsens with document
    length).  One shuffle, keyed by doc_id — uniform."""
    d = spread(load(spark, sf, "documents"))
    return repetition_signals_df(d)


def repetition_signals_df(d: DataFrame) -> DataFrame:
    """Core of `repetition_signals` over any (doc_id, text) frame.
    (Curate's --max-rep gate reads `enrich_pages`' `top_bigram_frac`
    instead, computed in its one Arrow pass.)  Shingles come
    from the shared `word_ngrams` helper (one slice-bounds implementation
    across decontamination/components/repetition).

    The top-bigram count is a PER-ROW expression: sort the row's bigram
    array and take the longest equal-run (identical to the count of the
    most frequent bigram) with one `aggregate` fold — O(w log w) per doc,
    zero shuffle, zero join.  The previous explode -> groupBy(id, bigram)
    -> max plan shuffled ~24M (url, bigram) STRING keys at 200k docs and
    measured 261s; this form is a narrow projection (~2s).  (The other
    naive in-array form — per-distinct-bigram counts via transform+filter
    — is O(w^2) per doc and slower than either; measured round 2.)"""
    from lightly_ocr_spark.operators.dedup import lower_words, word_ngrams

    # materialize the words array as its OWN projection: an inlined split
    # is re-evaluated by every interpreted lambda element (O(words^2) per
    # doc — the `_tokens` lesson, measured 9x on the signature build).
    # Probe for a free column name: a caller frame that already carries
    # `_words` would otherwise make the later F.col reference ambiguous at
    # runtime.
    wname = "_words"
    while wname in d.columns:
        wname += "_"
    d = d.select("*", lower_words().alias(wname))
    words = F.col(wname)
    n_words = F.size(words)

    def _run_step(acc, x):
        run = (
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_bigram_n = F.aggregate(
        F.array_sort(F.col("bigrams")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long")
        .alias("n_distinct_words"),
        word_ngrams(words, 2).alias("bigrams"),
    ).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(
            F.col("n_distinct_words") / F.greatest("n_words", F.lit(1)), 6
        ).alias("distinct_frac"),
        top_bigram_n.alias("top_bigram_n"),
        F.round(
            top_bigram_n / F.greatest(F.size("bigrams"), F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


def check_chunk(window: int, stride: int) -> None:
    """The one rule for token-window chunking, shared by `chunk_docs`
    and the curate option check: 0 < stride <= window."""
    if not 0 < stride <= window:
        raise ValueError(f"chunk (--chunk W,S) needs 0 < stride <= window, "
                         f"got window={window}, stride={stride}")


def chunk_docs(
    d: DataFrame, id_col: str = "doc_id", window: int = 64, stride: int = 48,
) -> DataFrame:
    """Token-window chunking — the standard LLM-training prep step the
    reference's per-image pipeline has no analog for: split each document
    into fixed-size whitespace-token windows with overlap (stride <
    window), so long documents become training-sized rows and context is
    never cut mid-window without an overlapping neighbor.

    Chunk count is exact integer math (0 when the doc has no tokens, 1
    when 0 < n_tokens <= window, else (n - window + stride - 1) // stride
    + 1), all chunk text built JVM-side (transform + slice + concat_ws,
    one explode — no Python).  Output: (id, chunk_idx, chunk, n_tokens);
    the final chunk may be short, every earlier chunk is exactly `window`
    tokens.  Empty/whitespace-only and null documents contribute NO rows
    (a zero-token empty-string training example is never emitted)."""
    check_chunk(window, stride)
    # materialize the token array first — an inlined split is re-evaluated
    # by every interpreted lambda element (the `_tokens` lesson)
    d = d.select(F.col(id_col), F.filter(
        F.split(F.col("text"), r"\s+"), lambda x: F.length(x) > 0
    ).alias("_words"))
    w = F.col("_words")
    n = F.size(w)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.floor((n - window + stride - 1) / stride).cast("int") + 1
    )
    chunks = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(w, i * stride + 1, window))
            .alias("chunk"),
            F.least(F.lit(window), n - i * stride).cast("int")
            .alias("n_tokens"),
        ),
    )).otherwise(F.array().cast(
        "array<struct<chunk_idx:int,chunk:string,n_tokens:int>>"
    ))
    return d.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_idx", "c.chunk", "c.n_tokens"
    )


def chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: chunk the documents table (window 64, stride 48 —
    documents run 20-200 words, so most produce 1-4 overlapping chunks).
    Fully DuckDB-oracled: exact integer chunk-count math, deterministic
    token slicing on both engines."""
    d = spread(load(spark, sf, "documents").select("doc_id", "text"))
    return chunk_docs(d)


# PII patterns — shared by the engine and the DuckDB oracle; written in the
# dialect intersection of Java regex (Spark) and RE2 (DuckDB): no
# lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\+\d{9,15}"


def pii_scrub_df(d: DataFrame) -> DataFrame:
    """Redact emails / IPv4s / international phone numbers and count each
    (the standard pre-training privacy pass).  Pure JVM regexp chains —
    codegen'd, no Python; counts via regexp_extract_all so the DuckDB
    oracle is the literal same expression.

    Counts are taken on the PROGRESSIVELY scrubbed text, in replacement
    order (email, then IPv4, then phone): when patterns overlap — a phone
    number inside an email's local part — the earlier replacement consumes
    the token, and counting on the original would report a phone
    'redacted' whose placeholder appears nowhere.  Invariant: n_X equals
    the number of <X> placeholders in `scrubbed`."""
    t0 = F.col("text")
    n_emails = F.size(
        F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), 0)
    ).cast("long")
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_ipv4 = F.size(
        F.regexp_extract_all(t1, F.lit(PII_IPV4_RE), 0)
    ).cast("long")
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    n_phones = F.size(
        F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), 0)
    ).cast("long")
    scrubbed = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return d.select(
        *[c for c in d.columns if c != "text"],
        n_emails.alias("n_emails"),
        n_ipv4.alias("n_ipv4"),
        n_phones.alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Driver query: plant deterministic PII (email, IP, phone — and a
    non-PII decoy that must survive) into each document, scrub, and emit
    counts + redacted text.  Fully DuckDB-oracled."""
    d = spread(load(spark, sf, "documents").select("doc_id", "text"))
    i = F.col("doc_id").cast("string")
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), i, F.lit("@mail"), i,
            F.lit(".example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or +4930"), i, F.lit("1234567 not-an-ip 999.999 "),
            F.col("text"),
        ).alias("text"),
    )
    return pii_scrub_df(planted)
