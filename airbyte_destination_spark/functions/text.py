"""Text analysis for training-data pipelines — all JVM-side expressions.

Language ID (stopword-hit heuristic), quality scoring, token counting,
and document fingerprinting. Everything is built from pyspark.sql
built-ins (split/filter/size/md5/regexp), so the hot path stays inside
whole-stage codegen — no UDFs. Each function returns Column(s) or a
DataFrame transform usable both in pipelines and in the driver-contract
queries (oracle-SQL twins exist for each in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny built-in stopword lists per language — enough signal for a
# coarse n-gram-free language-ID heuristic over synthetic corpora
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "para", "por"],
}


def words_expr(text_col: str = "text") -> Column:
    """Whitespace tokenization (the baseline token counter)."""
    return F.split(F.col(text_col), " ")


def stopword_hits(words: Column, lang: str) -> Column:
    """Count of words that are stopwords of `lang` — codegen'd filter."""
    vocab = STOPWORDS[lang]

    def pred(x):
        out = x == F.lit(vocab[0])
        for w in vocab[1:]:
            out = out | (x == F.lit(w))
        return out

    return F.size(F.filter(words, pred))


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Predict language by argmax stopword-hit count; 'und' when no hits.

    Deterministic tie-break: language order en > de > fr > es (greatest
    hit count wins; earlier language wins ties).
    """
    words = words_expr(text_col)
    hit_cols = [stopword_hits(words, lang).alias(f"_h_{lang}") for lang in STOPWORDS]
    with_hits = df.select("*", *hit_cols)
    best = F.greatest(*[F.col(f"_h_{lang}") for lang in STOPWORDS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # first match at max wins -> stable tie-break
        pred = pred.when(F.col(f"_h_{lang}") == best, F.lit(lang))
    return with_hits.withColumn(out_col, pred).drop(
        *[f"_h_{lang}" for lang in STOPWORDS]
    )


def quality_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals, rounded to
    6 decimals for float-stable oracle comparison."""
    words = words_expr(text_col)
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:]", ""))
    stop_en = stopword_hits(words, "en")
    return df.select(
        "*",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_q"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
        F.round(stop_en / n_words, 6).alias("stopword_ratio"),
        F.round((n_chars - n_words + 1) / n_words, 6).alias("mean_word_len"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword count.

    The subword proxy counts alphanumeric runs and punctuation marks
    separately (a cheap stand-in for a BPE pre-tokenizer's word-split
    regex), plus a distinct-token count.
    """
    words = words_expr(text_col)
    # BPE-ish pre-tokens: runs of word chars OR single non-space symbols
    spaced = F.regexp_replace(F.col(text_col), r"([^\w\s])", r" $1 ")
    pretokens = F.size(F.filter(F.split(spaced, r" +"), lambda x: x != F.lit("")))
    return df.select(
        "*",
        F.size(words).alias("n_ws_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        pretokens.alias("n_pretokens"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text — the exact-dedup key."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(normalized))


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    word windows of `window` tokens every `stride` tokens (the
    fixed-context chunking step of a training-data pipeline; the final
    window may be shorter). One row per (doc, chunk); pure JVM
    sequence/slice/explode — row count grows ~n_words/stride with no
    shuffle at all."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    chunk = F.explode(
        F.transform(
            idx,
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.slice(words, i * stride + 1, window).alias("w"),
            ),
        )
    )
    return df.select(F.col(id_col), chunk.alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.concat_ws(" ", F.col("c.w")).alias("chunk_text"),
        F.size(F.col("c.w")).alias("n_chunk_tokens"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "dup_ngram_frac"
) -> DataFrame:
    """Intra-document repetition signal: fraction of word n-grams that
    are duplicates of an earlier n-gram in the same document (the
    Gopher/RefinedWeb-style quality rule — high values flag boilerplate
    and degenerate repetition). Pure per-row JVM array expressions: no
    shuffle, no UDF, scales as a scan projection.
    """
    # gram keys as rolling 64-bit hashes instead of materialized gram
    # strings: zip_with over k shifted views builds key(i) =
    # xxhash64(...xxhash64(w[i], w[i+1])..., w[i+n-1]) in O(1)
    # interpreted work per gram (the round-2 slice+concat_ws transform
    # did O(n) array copies per gram), and array_distinct then dedups
    # longs, not strings — measured 2.7x faster at sf0.1. Collisions:
    # 64-bit keys over ~10^2-10^3 grams/doc give a per-corpus collision
    # probability ~1e-10; the string-based DuckDB oracle independently
    # verifies equality at every tested SF.
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    df = df.withColumn("_w", words)
    w = F.col("_w")
    sz = F.size(w)
    g = w
    for k in range(1, n):
        wk = F.slice(w, k + 1, F.greatest(sz - k, F.lit(0)))
        g = F.zip_with(g, wk, lambda a, b: F.xxhash64(a, b))
    grams = F.slice(g, 1, F.greatest(sz - (n - 1), F.lit(0)))
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return df.withColumn(
        out_col,
        F.when(total > 0, F.round((total - distinct) / total, 6)).otherwise(F.lit(0.0)),
    ).drop("_w")


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus vocabulary histogram: top-k words by frequency.

    explode(split) -> groupBy(word) -> top-k. The groupBy benefits from
    map-side partial aggregation (each task pre-counts its words before
    the shuffle, so the exchange carries one row per distinct word per
    partition, not one per token — Zipf corpora shrink ~100x). Ties
    break on the word itself so the result is total-ordered and
    oracle-comparable.
    """
    words = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word")
    return (
        df.select(words)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(k)
    )


# Karp-Rabin parameters, shared verbatim by the DuckDB oracle
RH_BASE, RH_MOD = 1_000_003, 2_147_483_647


def rolling_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "rhash"
) -> DataFrame:
    """Karp-Rabin rolling hash over normalized words:
    h = fold(h * BASE + val(word)) mod MOD, val(word) = first 24 bits of
    md5(word). Order-sensitive (unlike the md5 fingerprint) and
    incrementally maintainable over a sliding window — the rolling-hash
    fingerprint a dedup pipeline uses for shift-tolerant chunking.
    Stays in whole-stage codegen via F.aggregate; the left fold is
    order-deterministic, so the DuckDB list_reduce twin reproduces it
    exactly. h stays < 2^31 so the 2^31 * BASE product fits a long."""
    words = F.split(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), " "
    )
    wval = lambda w: F.conv(F.substring(F.md5(w), 1, 6), 16, 10).cast("long")  # noqa: E731
    h = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * RH_BASE + wval(w)) % RH_MOD,
    )
    return df.withColumn(out_col, h)


# regexes shared with the DuckDB oracle — keep them in the portable
# subset of Java regex and RE2 (no lookarounds, no backrefs)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


def pii_scan(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII pre-release scan: per-document counts of email addresses,
    IPv4 literals, and phone-shaped numbers, plus the md5 of the
    redacted text (emails -> <EMAIL>, then IPs -> <IP>, then phones ->
    <PHONE>, in that order — the redaction a training-data release
    applies before packing).

    Pure regexp_count/regexp_replace expressions — whole-stage codegen,
    scan-fused, zero shuffle; scales with the scan like the other
    quality signals.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (tf * ln(N/df)).

    Scale shape: document frequency is one word-keyed aggregate over
    the exploded corpus (map-side combined), joined back onto the
    per-doc term counts with a shuffled HASH join on the word (hinted,
    so the planner can't pick a broadcast off a bad stats estimate) —
    both sides are already word-keyed aggregates so the join reuses
    their partitioning, and NO side is broadcast: a web-scale
    vocabulary is 10^8-10^9 distinct tokens, far past any broadcast
    threshold. shuffle_hash (not sort-merge) because each partition's
    docfreq slice is the small build side and neither side benefits
    from sortedness downstream. Ranking partitions by document. Ties
    rank by (rounded score desc, word asc) so results are reproducible
    across engines at 6-dp precision. Plan pinned by
    tests/test_plans.py::test_tfidf_docfreq_join_not_broadcast.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    n_docs = df.count()  # one scalar, driver-side by necessity
    docfreq = words.groupBy("w").agg(
        F.countDistinct(id_col).alias("df")
    )
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.join(docfreq.hint("shuffle_hash"), "w").select(
        F.col(id_col),
        F.col("w").alias("word"),
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(id_col, "word", "tfidf", "rank")
    )


def _pos_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, w): the exploded, position-tagged word stream."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w"
        ),
    ).where(F.col("w") != "")


def _ranked_vocab(words: DataFrame) -> DataFrame:
    """(w, freq, tid) from an exploded word stream (column `w`):
    tid = 1-based rank by (freq desc, w asc).

    Scale shape: the ranking input is the VOCABULARY aggregate — still
    10^8-10^9 distinct words on a web corpus, so a plain
    Window.orderBy (ONE task materializes the whole vocabulary) is not
    acceptable. Rank = range-repartition on the sort key
    (RangePartitioning assigns ascending partition ids along the sort
    order; AQE coalescing merges only ADJACENT shuffle partitions, so
    the order survives) + an eager localCheckpoint pinning the layout
    across the two jobs + a per-partition row_number offset by the
    exclusive prefix counts (a #partitions-row control-plane collect)
    — the wire path's two-pass zipWithIndex discipline
    (destination.py _validated_offsets + _indexed_records) lifted to a
    sorted domain.
    The corpus scan itself only feeds a map-side-combined count.
    """
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    order = [F.col("freq").desc(), F.col("w").asc()]
    parts = (
        freq.repartitionByRange(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not counts:  # empty corpus: keep the (w, freq, tid) schema
        return parts.withColumn("tid", F.lit(0)).drop("_pid")
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    off_map = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    return parts.withColumn(
        "tid", off_map[F.col("_pid")] + F.row_number().over(w)
    ).drop("_pid")


def freq_vocab(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Frequency-ranked vocabulary (w, freq, tid) trained on the corpus:
    tid = row_number by (count desc, word asc), 1-based — built by the
    partition-parallel ranked aggregate (`_ranked_vocab`), never a
    single-partition window."""
    return _ranked_vocab(_pos_words(df, id_col, text_col))


def detokenize(
    tok_df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    out_col: str = "text_rebuilt",
) -> DataFrame:
    """Invert tokenization: explode token ids, shuffle-hash join the
    vocabulary on tid (NEVER broadcast — web vocabularies are 10^8+),
    restore order with sort_array over (pos, w) structs. Requires an
    injective vocabulary (uncapped — a vocab_size/oov mapping is lossy
    by construction and would also fan out the tid join)."""
    pos = tok_df.select(
        F.col(id_col), F.posexplode(F.col(tokens_col)).alias("pos", "tid")
    )
    joined = pos.join(
        vocab.select(F.col("tid").cast("int").alias("tid"), "w").hint(
            "shuffle_hash"
        ),
        "tid",
    )
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias(out_col)
    )


def token_contamination(
    tok_df: DataFrame,
    probe_ids: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
) -> DataFrame:
    """Token-space contamination scan: which corpus documents contain a
    token n-gram of any probe (eval-set) document? Works on the
    PRE-TOKENIZED sequences (the input_hint shape), so it catches
    verbatim training/eval overlap after tokenization — the form that
    actually leaks into a trained model.

    Unlike the text-shingle `contamination` (which broadcasts a small
    probe set), this joins corpus grams to probe grams with a SHUFFLED
    semi-join on the gram key — the scale path when the probe set is
    itself large (a full eval suite). Gram keys are ids-only strings;
    token arrays never reshuffle. Returns (id_col, n_hit_grams) for
    non-probe docs with at least one verbatim probe n-gram.
    """
    probe = tok_df.join(probe_ids, id_col, "leftsemi")
    corpus = tok_df.join(probe_ids, id_col, "leftanti")

    def _grams(df: DataFrame) -> DataFrame:
        ok = df.where(F.size(F.col(tokens_col)) >= n)
        return ok.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col(tokens_col)) - n),
                    lambda i: F.array_join(
                        F.transform(
                            F.slice(F.col(tokens_col), i + 1, n),
                            lambda t: t.cast("string"),
                        ),
                        ",",
                    ),
                )
            ).alias("g"),
        )

    probe_grams = _grams(probe).select("g").distinct()
    hits = _grams(corpus).join(probe_grams.hint("shuffle_hash"), "g", "leftsemi")
    return hits.groupBy(id_col).agg(
        F.count_distinct(F.col("g")).alias("n_hit_grams")
    )


def tokenize_freq_vocab(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = None,
    oov_id: int = 0,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the corpus against a FREQUENCY-RANKED vocabulary trained
    on the corpus itself: token id = dense rank of the word by (global
    count desc, word asc), 1-based — the rank structure of a BPE/uni-
    gram vocab without the (non-SQL-expressible) merge loop, so every
    engine reproduces ids exactly. Returns (id_col, tokens array<int>,
    n_tok) — the `input_hint` training-sequence shape.

    `vocab_size` caps the vocabulary; rarer words map to `oov_id`
    (the <unk> convention).

    Scale shape: one exploded word scan -> word-keyed count (map-side
    combined); ranking the vocabulary is a window over the WORD
    aggregate (vocabulary-sized, not corpus-sized; a global-order
    window, acceptable because the vocab is orders smaller than the
    corpus — at true web scale swap for ordered zipWithIndex over a
    sorted write). Token assignment joins words->vocab with a shuffled
    hash join on the word (NO broadcast — web vocabularies are 10^8+,
    the tfidf_topk lesson), then one groupBy(doc) rebuilds order with
    sort_array over (pos, tid) structs.
    """
    words = _pos_words(df, id_col, text_col)
    if vocab is None:
        # pass a prebuilt (ideally checkpointed/staged) freq_vocab when
        # composing with other consumers of the vocabulary — otherwise
        # each DAG branch re-trains it
        vocab = freq_vocab(df, id_col=id_col, text_col=text_col)
    if vocab_size is not None:
        vocab = vocab.withColumn(
            "tid",
            F.when(F.col("tid") <= vocab_size, F.col("tid")).otherwise(
                F.lit(oov_id)
            ),
        )
    toks = words.join(vocab.hint("shuffle_hash"), "w").select(
        id_col, "pos", F.col("tid").cast("int").alias("tid")
    )
    return (
        toks.groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"],
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
    )


def token_ngram_topk(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k token n-grams over the freq-vocab tokenization
    — the n-gram LM statistic a data pipeline computes for quality /
    memorization auditing. Returns (t1..tn, freq) ordered by (freq
    desc, t1..tn asc).

    Works on the exploded word stream directly (never materializes the
    token arrays): n-1 `lead()` windows per document partition build
    each n-gram in place, then one map-side-combined count. Document
    partitions are independent, so the window shuffles by doc — no
    global order anywhere; the final top-k is the only driver-bound
    (k-row) result.
    """
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w"
        ),
    ).where(F.col("w") != "")
    vocab = _ranked_vocab(words)
    toks = words.join(vocab.hint("shuffle_hash"), "w").select(
        id_col, "pos", F.col("tid").cast("int").alias("tid")
    )
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    grams = toks.select(
        F.col("tid").alias("t1"),
        *[F.lead("tid", i).over(wdoc).alias(f"t{i + 1}") for i in range(1, n)],
    ).dropna()
    gcols = [f"t{i + 1}" for i in range(n)]
    return (
        grams.groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), *[F.col(c).asc() for c in gcols])
        .limit(k)
    )


def block_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 16,
) -> DataFrame:
    """Exact substring-level dedup at block granularity — the
    exact-substring stage of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL'22), coarsened from suffix-array
    byte ranges to consecutive `block_words`-word blocks so it stays a
    pure DataFrame plan (their suffix array is a single-machine build;
    fixed blocks give the same "this span appears elsewhere verbatim"
    signal shardably).

    Emits per doc: n_blocks, dup_blocks (blocks whose md5 appears in at
    least one OTHER doc), dup_block_ratio.

    Scale: blocks explode ~n_words/block_words rows; one map-side
    combined groupBy on the block hash, one shuffle-hash join back
    carrying (id, hash) only — block text never reshuffles — then one
    groupBy doc. No all-pairs anything; hot (boilerplate) blocks cost
    one histogram row each.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nblk = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    # internal key: xxhash64 of the block text — an 8-byte long through
    # the shuffle instead of a 32-char md5 hex string (the oracle
    # compares the per-doc OUTPUT, not the hash, so any collision-free
    # digest works on either side)
    blocks = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ", F.slice(words, i * block_words + 1, block_words)
                    )
                ),
            )
        ).alias("bh"),
    )
    counts = blocks.groupBy("bh").agg(
        F.count_distinct(F.col(id_col)).alias("ndocs")
    )
    return (
        blocks.join(counts.hint("shuffle_hash"), "bh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((F.col("ndocs") > 1).cast("bigint")).alias("dup_blocks"),
        )
        .withColumn(
            "dup_block_ratio",
            F.round(F.col("dup_blocks") / F.col("n_blocks"), 6),
        )
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 16,
) -> DataFrame:
    """Intra-document repeated-span REMOVAL — the remediation step to
    block_dedup's detection (Lee et al. ACL'22 drop the later copies of
    repeated spans; their suffix-array byte ranges are coarsened to
    consecutive `block_words`-word blocks here, same convention as
    block_dedup). Keeps the FIRST occurrence of every distinct block
    within a document and rebuilds the text in original block order.

    Emits per doc: text_dedup (whitespace-normalized lowercase — the
    same canonical form the block split uses), n_blocks, n_dropped.

    Plan shape: ONE exchange — an explicit repartition on the doc id
    that both the first-occurrence window (partitionBy doc+block is a
    finer clustering, satisfied by the coarser doc hash) and the
    rebuild groupBy reuse; the window adds sorts, never a shuffle
    (plan-asserted). Skew bound = the largest single document.
    """
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nblk = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    base = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i * block_words + 1, block_words)
                ),
            )
        ).alias("pos", "btxt"),
    ).repartition(F.col(id_col))
    w = Window.partitionBy(id_col, "btxt").orderBy("pos")
    kept = base.withColumn("rn", F.row_number().over(w))
    first = F.when(F.col("rn") == 1, F.struct(F.col("pos"), F.col("btxt")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(first)), lambda s: s["btxt"]
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((F.col("rn") > 1).cast("bigint")).alias("n_dropped"),
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram-LM document scoring (the CCNet/KenLM-style quality
    signal): train an add-alpha-smoothed bigram language model ON the
    corpus itself, then score every document by its per-bigram cross
    entropy under that model. Documents whose word transitions are
    atypical for the corpus (boilerplate, gibberish, lorem-ipsum
    spam) score high; fluent in-domain text scores low — the standard
    perplexity-bucket filter for web-scale pretraining data.

    nll(w1,w2) = -ln( (c(w1,w2) + alpha) / (c(w1) + alpha * V) )

    Plan shape: unigram and bigram counts are word-keyed groupBys
    (map-side partial agg carries one row per distinct gram per task —
    Zipf shrink); the doc bigram stream joins those counts with plain
    SHUFFLE joins on the gram key. The model is NEVER broadcast — a
    web-corpus bigram table is billions of rows (the same 10^8-token
    lesson as tfidf_topk / tokenize_freq_vocab). V rides in as a
    1-row cross join. The per-doc bigram stream itself is a lead()
    window partitioned by doc — no global window, no SinglePartition.

    Returns (doc_id, n_bigrams, cross_entropy, perplexity); docs with
    fewer than 2 words carry NULL scores (no bigram evidence). Sums
    are rounded to 6dp like char_entropy (absorbs cross-partition FP
    association jitter; the DuckDB oracle replays the identical
    arithmetic).
    """
    words = _pos_words(df, id_col, text_col)
    win = Window.partitionBy(id_col).orderBy("pos")
    bi = (
        words.withColumn("w2", F.lead("w").over(win))
        .where(F.col("w2").isNotNull())
        .select(id_col, "w", "w2")
    )
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    big = bi.groupBy("w", "w2").agg(F.count(F.lit(1)).alias("c12"))
    v = uni.agg(F.count(F.lit(1)).alias("_v"))
    nll = -F.log(
        (F.col("c12") + F.lit(alpha))
        / (F.col("c1") + F.lit(alpha) * F.col("_v"))
    )
    scored = (
        bi.join(big, ["w", "w2"])
        .join(uni, "w")
        .crossJoin(v)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("cross_entropy"),
        )
        .withColumn(
            "perplexity", F.round(F.exp(F.col("cross_entropy")), 4)
        )
    )
    # docs too short for any bigram still appear, with NULL scores —
    # a corpus filter must SEE them to route them, not silently drop
    return (
        df.select(F.col(id_col)).distinct()
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
            "perplexity",
        )
    )


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style document quality rules as one codegen projection.

    The rule set the Gopher paper (Rae et al. 2021, §A1.1) and C4
    (Raffel et al. 2020, §2.2) apply before training — re-expressed as
    pyspark.sql built-ins so the whole filter is a zero-shuffle scan
    projection (the reference delegates corpus filtering to downstream
    systems; this is the training-data-pipeline side the engine adds):

      - word-count window (Gopher: 50..100k words)
      - mean word length window (Gopher: 3..10 chars)
      - fraction of words containing an alphabetic char (Gopher >=0.8)
      - >=2 DISTINCT stopwords present (Gopher "stop word" rule)
      - top-word dominance: occurrences of the most frequent word over
        all words (repetition proxy; C4's boilerplate signal) <= 0.2
      - C4 page rules: no '{' (code/markup), no 'lorem ipsum'

    Every fractional signal is emitted (rounded to 6 decimals for
    float-stable oracle comparison) plus the combined `keep` verdict, so
    a curation pipeline can re-threshold without recomputing.

    Scale shape: per-document array expressions only — no shuffle, no
    UDF. The top-word count is O(distinct_words x words) per document,
    fine for page-sized docs; book-length inputs should chunk first
    (chunk_windows) or derive dominance from tokenize_freq_vocab's
    explode+groupBy path instead.
    """
    words = words_expr(text_col)
    n_words = F.size(words)
    mean_wl = F.round((F.length(F.col(text_col)) - n_words + 1) / n_words, 6)
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stops = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_distinct = F.size(F.array_intersect(F.array_distinct(words), stops))
    top_word_n = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda d: F.size(F.filter(words, lambda w: w == d)),
        )
    )
    frac_alpha = F.round(alpha / n_words, 6)
    frac_top = F.round(top_word_n / n_words, 6)
    has_brace = F.col(text_col).contains("{")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    keep = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_wl >= 3) & (mean_wl <= 10)
        & (frac_alpha >= 0.8)
        & (stop_distinct >= 2)
        & (frac_top <= 0.2)
        & ~has_brace & ~has_lorem
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        stop_distinct.cast("int").alias("stop_distinct"),
        frac_top.alias("frac_top_word"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        keep.alias("keep"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.4):
    score every document with the corpus-trained bigram LM
    (lm_perplexity) and route it to head / middle / tail by the
    corpus's own perplexity quartiles — head = the most fluent
    quarter, tail = the worst quarter, the bucket labels CCNet uses to
    stage pretraining data quality.

    Boundaries are EXACT quantile_cont at q=0.25/0.75 (binary
    fractions, so the interpolation arithmetic is bit-identical across
    engines) computed via stats.quantiles_exact — the
    bounded-state histogram plan, never a global sort; the boundary
    row is 1x2 and broadcast, so assignment stays a scan projection.
    Docs with no bigram evidence carry a NULL bucket (a router must
    see them, not lose them).

    Returns (doc_id, perplexity, ppl_bucket).
    """
    from airbyte_destination_spark.functions.stats import quantiles_exact

    # the scored table feeds BOTH the quantile boundaries and the final
    # assignment: without truncation the plan embeds the whole bigram-LM
    # pipeline twice (train + score re-run inside the boundary subtree).
    # A lazy localCheckpoint makes both references share one computed
    # RDD — the LM trains and scores once per query, not twice.
    ppl = lm_perplexity(
        df, id_col=id_col, text_col=text_col, alpha=alpha
    ).localCheckpoint(eager=False)
    scored = ppl.where(F.col("perplexity").isNotNull()).withColumn(
        "_g", F.lit(1)
    )
    bounds = quantiles_exact(scored, "perplexity", "_g", qs=(0.25, 0.75)).select(
        "p25", "p75"
    )
    bucket = (
        F.when(F.col("perplexity").isNull(), F.lit(None).cast("string"))
        .when(F.col("perplexity") <= F.col("p25"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("p75"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ppl.crossJoin(F.broadcast(bounds)).select(
        id_col, "perplexity", bucket.alias("ppl_bucket")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents for a bag of query terms.

    score(d) = sum over query terms t of
      idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)) — the Robertson/
    Sparck-Jones form, always positive.

    Scale shape: the query-term filter lands INSIDE the word-explode
    projection, so tf and df aggregate over |terms| keys only — tiny;
    the one corpus-sized aggregate is the per-doc length (doc-keyed,
    map-side combined), and tf joins it doc-keyed. The |terms|-row idf
    side is broadcast — bounded by the QUERY, not the corpus, so it is
    the one justified broadcast in this family (contrast tfidf_topk,
    whose docfreq is vocabulary-sized and must shuffle). avgdl/N ride
    a 1-row cross join. Final top-k is orderBy().limit(k) =
    TakeOrderedAndProject: per-partition k, driver merges k×partitions
    rows, never a global sort.

    Per-term contributions round to 6 dp before the per-doc sum and
    ties order by doc id, so the top-k set is reproducible across
    engines (same discipline as tfidf_topk/lm_perplexity).
    """
    terms = sorted(set(query_terms))
    words = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    doclen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    scalars = doclen.agg(
        # exact-int sum/count then one divide: avg() accumulates in
        # partition order and could drift a ulp vs the oracle engine
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    qwords = words.where(F.col("w").isin(terms))
    tf = qwords.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = qwords.groupBy("w").agg(F.countDistinct(id_col).alias("df"))
    per_term = (
        tf.join(doclen, id_col)
        .crossJoin(scalars)
        .join(F.broadcast(docfreq), "w")
        .select(
            F.col(id_col),
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                ),
                6,
            ).alias("c"),
        )
    )
    return (
        per_term.groupBy(id_col)
        .agg(F.round(F.sum("c"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bpe_word_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct-word frequency table for BPE training: (word, cnt).

    The classic trainer's scalability lever (SentencePiece / HF
    tokenizers): merge learning runs over DISTINCT words weighted by
    corpus frequency, never over the raw token stream — at web scale
    the word table is 10^7-ish rows against 10^12 corpus tokens. Words
    are the repo's standard whitespace split, restricted to
    `^[a-z0-9]+$` (BPE pre-tokenization; also keeps per-character
    semantics byte-exact across engines — no grapheme/codepoint
    ambiguity in the oracle)."""
    w = F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word")
    return (
        docs.select(w)
        .where(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_merge_round(ex: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Apply ONE learned merge (lhs, rhs) to the exploded token stream
    and re-assemble per-word token arrays.

    Left-to-right non-overlapping merge, batch-expressible: adjacent
    matches can only overlap inside runs of consecutive match
    positions, and greedy left-to-right keeps exactly the EVEN offsets
    within each run — a window-function parity rule, no sequential
    scan. All windows share the per-word partitioning, so the whole
    round is ONE exchange on `word` plus the re-aggregation."""
    w = Window.partitionBy("word").orderBy("pos")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    step1 = ex.select(
        "word",
        "cnt",
        "pos",
        "tok",
        F.lead("tok").over(w).alias("nxt"),
    ).withColumn(
        "m", (F.col("tok") == F.lit(lhs)) & (F.col("nxt") == F.lit(rhs))
    )
    # run id: pos - running-match-count is constant within a run of
    # consecutive matches; (word, grp, m) isolates each run
    step2 = step1.withColumn(
        "grp", F.col("pos") - F.sum(F.col("m").cast("int")).over(cum)
    )
    step3 = step2.withColumn(
        "runmin", F.min("pos").over(Window.partitionBy("word", "grp", "m"))
    ).withColumn(
        "keep", F.col("m") & (F.pmod(F.col("pos") - F.col("runmin"), 2) == 0)
    )
    step4 = step3.withColumn(
        "consumed", F.coalesce(F.lag("keep").over(w), F.lit(False))
    )
    rebuilt = (
        step4.where(~F.col("consumed"))
        .select(
            "word",
            "cnt",
            "pos",
            F.when(F.col("keep"), F.concat("tok", "nxt"))
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        .groupBy("word", "cnt")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
    )
    return rebuilt.select(
        "word", "cnt", F.posexplode("toks").alias("pos", "tok")
    )


def bpe_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """Distributed BPE tokenizer training: learn the top `n_merges`
    byte-pair merges over the corpus. Returns (merge_rank, lhs, rhs,
    pair_count) in learning order.

    Deterministic spec (mirrored exactly by the DuckDB oracle):
    - pair counts weight every adjacent position by word frequency,
      overlapping occurrences included ("aaa" counts (a,a) twice);
    - best pair = max count, ties to the lexicographically smallest
      (lhs, rhs) — exact integer counts and ASCII-only tokens, so the
      argmax can never diverge across engines;
    - merging is greedy left-to-right non-overlapping (the run-parity
      rule in _bpe_merge_round).

    Scale shape: each round is two shuffles over the DISTINCT-WORD
    token stream (one `word`-keyed exchange shared by every window +
    the rebuild, one (tok, nxt) pair-count aggregate with map-side
    combine) and a 1-row argmax collect — control-plane, like the
    k-means centroid loop. The corpus itself is read once, by
    `bpe_word_table`. Lineage is truncated per round (localCheckpoint)
    so the iterative plan stays flat — the CC-loop lesson."""
    spark = docs.sparkSession
    words = bpe_word_table(docs, text_col)
    # initial sequence = the word's characters (ASCII by construction)
    ex = words.select(
        "word",
        "cnt",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, F.lit(1)),
            )
        ).alias("pos", "tok"),
    ).localCheckpoint(eager=False)

    learned = []
    for rank in range(1, n_merges + 1):
        w = Window.partitionBy("word").orderBy("pos")
        best = (
            ex.select("cnt", "tok", F.lead("tok").over(w).alias("nxt"))
            .where(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("tok").asc(), F.col("nxt").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break  # corpus exhausted: every word is a single token
        lhs, rhs, c = best[0]["tok"], best[0]["nxt"], best[0]["c"]
        learned.append((rank, lhs, rhs, int(c)))
        # LAZY checkpoint: the plan truncates immediately, and the next
        # round's argmax collect materializes it in its own job — one
        # Spark job per round instead of two (safe here because the
        # merge round references `ex` through ONE linear chain; the CC
        # loop's multi-reference rounds measured slower lazy)
        ex = _bpe_merge_round(ex, lhs, rhs).localCheckpoint(eager=False)

    return spark.createDataFrame(
        learned, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def bpe_segmentations(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(word, toks array<string>) — each distinct corpus word's final
    BPE segmentation under `merges` applied exhaustively in rank order.
    This is the trainer's final-round state rebuilt from the merge
    list; callers that already ran training can materialize it once and
    hand it to `bpe_encode(segmentations=...)` so encoding never
    re-replays the merge rounds (the staged-table shape: compute once,
    every consumer joins the materialization)."""
    words = bpe_word_table(docs, text_col)
    ex = words.select(
        "word",
        "cnt",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, F.lit(1)),
            )
        ).alias("pos", "tok"),
    ).localCheckpoint(eager=False)
    for lhs, rhs in merges:
        # lazy checkpoints chain: each round's plan truncates, and ONE
        # downstream action computes the whole chain as a single job
        ex = _bpe_merge_round(ex, lhs, rhs).localCheckpoint(eager=False)
    return ex.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"],
        ).alias("toks")
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentations: DataFrame | None = None,
) -> DataFrame:
    """Encode the corpus with a learned BPE merge list: (doc_id,
    bpe_tokens array<string>, n_bpe).

    Standard BPE application — each merge applied exhaustively in rank
    order (the HF/SentencePiece contract), so encoding the training
    corpus reproduces the trainer's final segmentation exactly. All
    merge work runs over the DISTINCT-WORD table (`_bpe_merge_round`,
    one word-keyed exchange per merge); documents then pick up their
    words' segmentations through ONE shuffle join on `word` (never a
    broadcast — the segmented vocabulary is corpus-sized, the tfidf
    lesson) and reassemble in word order. Docs with no
    `[a-z0-9]+` words drop out (inner join), mirroring the trainer's
    pre-tokenization filter.

    `segmentations`: a precomputed `bpe_segmentations` table — when
    given, the merge-round replay is skipped entirely and encoding is
    the doc-side join + reassembly only."""
    wtoks = (
        segmentations
        if segmentations is not None
        else bpe_segmentations(docs, merges, text_col)
    )

    dw = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("wpos", "word"),
    ).where(F.col("word").rlike("^[a-z0-9]+$"))
    seq = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("wpos", "toks"))),
            lambda s: s["toks"],
        )
    )
    return (
        dw.join(wtoks, "word")
        .groupBy(id_col)
        .agg(
            seq.alias("bpe_tokens"),
        )
        .select(
            id_col,
            "bpe_tokens",
            F.size("bpe_tokens").cast("int").alias("n_bpe"),
        )
    )
