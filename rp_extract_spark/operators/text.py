"""Text-analysis operators for corpus curation (documents table).

The ``analyze_documents`` battery (token counts, BPE-ish units,
stopword-hit language guess, punctuation / stopword ratios, md5
fingerprint), BM25 retrieval and the corpus statistics built on them.
Every emitted value is also expressible as the DuckDB oracle SQL used
by the driver.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._prims import arrow_stage, md5_hex, md5_int, spread

# minimal public stopword lists (top function words per language)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein", "mit", "den", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "de", "que", "los", "una", "con", "por", "para", "es"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of the lowercased trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def nonempty_tokens_col(text: Column) -> Column:
    """``tokens_col`` minus empty strings (whitespace-only text -> []).
    The single definition shared by the curation operators — keep any
    tokenizer change here in sync with the oracle SQL tokenizer
    (plans/driver_queries._SQL_NTOK family)."""
    return F.filter(tokens_col(text), lambda w: w != "")


# The body of Java's \s class, which Spark's split(..., '\s+') uses:
# ASCII whitespace only. Python's \s also matches NBSP, U+2028,
# \x1c-\x1f and more, so every Python replay of a Spark tokenization
# splits on this class, never on \s.
JAVA_WS = r" \t\n\x0b\f\r"
_JAVA_WS_RUN = re.compile(f"[{JAVA_WS}]+")


def py_tokens(text: str | None) -> list[str] | None:
    """Python twin of ``tokens_col``: Spark ``trim`` (ASCII spaces
    only), ``lower``, then a Java-``\\s`` split that keeps leading and
    trailing empty tokens, as ``split(..., -1)`` does. NULL gives
    None."""
    if text is None:
        return None
    return _JAVA_WS_RUN.split(text.strip(" ").lower())


def py_nonempty_tokens(text: str | None) -> list[str] | None:
    """Python twin of ``nonempty_tokens_col``. NULL gives None."""
    if text is None:
        return None
    return [w for w in py_tokens(text) if w]


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, 0).otherwise(
        F.size(tokens_col(text))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint of whitespace-normalized
    lowercased text (md5 — portable to the DuckDB oracle)."""
    return md5_hex(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis battery. Round 6: the integer counts (raw
    and non-empty token counts, BPE-ish units, punctuation chars,
    stopword hits) plus the two deterministic strings (lang_guess,
    md5 fingerprint) come from ONE Arrow-batched pass — the old
    expression tree re-tokenized the text and re-scanned the stopword
    arrays once per derived column through interpreted HOF lambdas.
    Every float ratio and its rounding is STILL the original Spark
    expression over those exact integers (int/int division, same
    association order), so emitted values are bit-identical, and NULL
    text propagates NULL through them exactly as before (lang_guess
    stays 'und' for NULL — the old when-chain's behavior)."""
    import hashlib

    t = F.col(text_col)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_tokens_bpe", T.LongType()),
            T.StructField("lang_guess", T.StringType()),
            T.StructField("fingerprint", T.StringType()),
            T.StructField("__ad_npq", T.IntegerType()),
            T.StructField("__ad_hits", T.IntegerType()),
            T.StructField("__ad_nraw", T.IntegerType()),
        ]
    )
    sw_sets = {lang: frozenset(ws) for lang, ws in STOPWORDS.items()}
    bpe_punct = set(".,;:!?()[]")
    ratio_punct = set(".,;:!?()[]\"'")

    def counts(txt):
        if txt is None:
            return {"lang_guess": "und"}
        toks = py_tokens(txt)  # raw split, empties kept
        best, best_lang = 0, "und"
        for lang, sw in sw_sets.items():
            h = sum(1 for w in toks if w in sw)
            if lang == "en":
                hits_en = h
            if h > best:  # earlier languages win ties
                best, best_lang = h, lang
        return {
            "n_tokens": len(toks) if txt.strip(" ") else 0,
            "n_tokens_bpe": sum((len(w) + 3) // 4 for w in toks)
            + sum(1 for c in txt if c in bpe_punct),
            "lang_guess": best_lang,
            "fingerprint": hashlib.md5(" ".join(toks).encode("utf-8")).hexdigest(),
            "__ad_npq": sum(1 for c in txt if c in ratio_punct),
            "__ad_hits": hits_en,
            "__ad_nraw": len(toks),
        }

    base = arrow_stage(spread(df), df.columns, [text_col], out_schema, counts)
    stop = F.col("__ad_hits") / F.greatest(F.col("__ad_nraw"), F.lit(1))
    punct = F.col("__ad_npq") / F.greatest(F.length(t), F.lit(1))
    len_score = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stop * 5.0, F.lit(1.0))
    punct_pen = F.when(punct > 0.1, 0.5).otherwise(1.0)
    return base.withColumns(
        {
            "punct_ratio": F.round(punct, 6),
            "stopword_ratio": F.round(stop, 6),
            "quality": F.round(
                (0.5 * len_score + 0.5 * stop_score) * punct_pen, 6
            ),
        }
    ).drop("__ad_npq", "__ad_hits", "__ad_nraw")


# corpus-curation pattern scans (URLs / emails / digit share) — all
# JVM regexp, oracle-able in DuckDB with the 'g' flag
def count_regexp(text: Column, pattern: str) -> Column:
    """Occurrences of ``pattern`` in text (regexp_count)."""
    return F.regexp_count(text, F.lit(pattern))


def digit_ratio(text: Column) -> Column:
    n_digit = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return n_digit / F.greatest(F.length(text), F.lit(1))


# [^\s\x0b]: Java's \s includes \x0B but RE2's does not — excluding it
# explicitly makes the negated class IDENTICAL in both engines (the
# DuckDB oracles inline this same pattern string)
URL_PATTERN = r"https?://[^\s\x0b]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pattern_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """URL/email/digit signals used by corpus-quality gates."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_urls": count_regexp(t, URL_PATTERN).cast("int"),
            "n_emails": count_regexp(t, EMAIL_PATTERN).cast("int"),
            "digit_ratio": F.round(digit_ratio(t), 6),
        }
    )


# PII redaction (corpus sanitization before training); patterns
# restricted to syntax that behaves identically under Java regex,
# Python re (redact_pii) and RE2 (DuckDB oracle): plain char classes,
# no lookaround/backrefs. Order matters (URLs first so
# their digits never count as phones); each kind is counted on the
# text as it stands BEFORE that kind's replacement.
PII_PATTERNS: "list[tuple[str, str, str]]" = [
    ("url", URL_PATTERN, "<URL>"),
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    # concrete phone shapes only (NNN-NNN-NNNN with optional country
    # code / parens, or +international digit run) — a generic
    # 8-16-char digit-run pattern also destroyed dates, timestamps
    # and version strings in ordinary text
    ("phone",
     r"(\+?[0-9]{1,3}[ -]?)?\(?[0-9]{3}\)?[ -][0-9]{3}[ -][0-9]{4}"
     r"|\+[0-9]{7,15}",
     "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace URLs / emails / IPv4s / phone-like digit runs with typed
    placeholder tokens; adds ``n_<kind>`` match counts and
    ``text_redacted``. Round 6: one stateless Arrow pass using
    ``re.subn`` — count and replacement in ONE scan per kind (the JVM
    expression tree ran regexp_count + regexp_replace separately, 8
    regex passes per document). The patterns are restricted to the
    engine-portable subset (plain classes, no lookaround/backrefs —
    the existing Java<->RE2 oracle contract), on which Python's
    backtracking leftmost-first semantics match Java's exactly; the
    one engine-specific class, Java ``\\s`` inside the URL negation,
    is spelled out byte-for-byte. NULL text yields NULL counts and
    NULL redacted text, as before."""
    # Java \s is JAVA_WS; Python \s is wider — substitute the explicit
    # class so the URL pattern matches identically
    compiled = [
        (f"n_{kind}", re.compile(pat.replace(r"[^\s\x0b]", f"[^{JAVA_WS}]")),
         token)
        for kind, pat, token in PII_PATTERNS
    ]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(name, T.IntegerType()) for name, _, _ in compiled]
        + [T.StructField("text_redacted", T.StringType())]
    )

    def redact(t):
        if t is None:
            return {}
        out = {}
        for name, rx, token in compiled:
            t, out[name] = rx.subn(token, t)
        out["text_redacted"] = t
        return out

    return arrow_stage(spread(df), df.columns, [text_col], out_schema, redact)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (one projection, shuffle-free):

    - ``dup_token_frac``: 1 - distinct_tokens/tokens;
    - ``dup_line_frac``: 1 - distinct_nonblank_lines/nonblank_lines;
    - ``top_2gram_share``: share of the most frequent word 2-gram among
      all 2-grams.

    Round 6: the six COUNTS (tokens, distinct tokens, non-blank lines,
    distinct lines, best 2-gram run, 2-gram total) come from one
    Arrow-batched pass — exact integers from the shared-tokenizer
    replica (Java ``\\s`` split of lower/ASCII-space-trim, Spark-trim
    ``strip(' ')`` for lines) with set/Counter reductions, replacing
    the per-element interpreted HOF aggregate over sorted gram arrays.
    The fractions and their rounding are STILL the original Spark
    expressions over those integers, so every emitted value is
    bit-identical to the old plan (int/int division and F.round happen
    in the same engine as before). NULL text yields NULL counts, and
    NULL propagates through the expressions exactly as the old NULL
    arrays did."""
    from collections import Counter

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(c, T.IntegerType())
            for c in ("__rs_n", "__rs_nd", "__rs_nl", "__rs_nld", "__rs_best",
                      "__rs_ng")
        ]
    )

    def counts(t):
        if t is None:
            return {}
        toks = py_nonempty_tokens(t)
        lines = [x for x in (s.strip(" ") for s in t.split("\n")) if x]
        two = len(toks) >= 2
        return {
            "__rs_n": len(toks),
            "__rs_nd": len(set(toks)),
            "__rs_nl": len(lines),
            "__rs_nld": len(set(lines)),
            "__rs_best": max(Counter(zip(toks, toks[1:])).values()) if two else 0,
            "__rs_ng": len(toks) - 1 if two else 0,
        }

    with_counts = arrow_stage(spread(df), df.columns, [text_col], out_schema, counts)
    n = F.col("__rs_n")
    nl = F.col("__rs_nl")
    dup_token_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(1 - F.col("__rs_nd") / n, 6)
    )
    dup_line_frac = F.when(nl == 0, F.lit(0.0)).otherwise(
        F.round(1 - F.col("__rs_nld") / nl, 6)
    )
    top_share = F.round(
        F.col("__rs_best") / F.greatest(F.col("__rs_ng"), F.lit(1)), 6
    )
    return with_counts.withColumns(
        {
            "dup_token_frac": dup_token_frac,
            "dup_line_frac": dup_line_frac,
            "top_2gram_share": top_share,
        }
    ).drop("__rs_n", "__rs_nd", "__rs_nl", "__rs_nld", "__rs_best", "__rs_ng")


def _term_tf(toks: Column, term: str) -> Column:
    """Exact term frequency inside a token array (JVM-side filter; the
    term is bound per call — HOF lambdas must not close over loop
    variables, see CLAUDE.md PySpark 4.1 notes)."""
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_rank(
    df: DataFrame,
    query_terms: "list[str] | tuple[str, ...]",
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus (the lexical side of a
    training-data search/dedup stack; complements the embedding kNN in
    operators/similarity.py). Okapi BM25 with the Lucene idf form:

        idf_t  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score  = sum_t idf_t * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale path: corpus statistics (N, avgdl, per-term document
    frequencies) come from ONE aggregate over a single scan —
    query_terms is a handful of constants, so each df_t is a
    conditional sum in the same pass — broadcast back as one row;
    scoring is a second stateless scan (JVM array ops, no Python) and
    the result is a global top-k (TakeOrdered, no full sort). Two
    scans, zero wide shuffles.

    Returns (id, score, dl) for the top_k docs with score > 0,
    deterministically ordered (rounded score desc, id asc)."""
    toks = tokens_col(F.col(text_col))
    d = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        token_count(F.col(text_col)).alias("dl"),
    ).persist()  # feeds the stats aggregate AND the scoring scan —
    # unpersisted, the corpus tokenized twice (round 6)
    stats = d.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("dl").alias("__avgdl"),
        *[
            F.sum(F.array_contains("__toks", t).cast("long")).alias(f"__df_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))  # one broadcast row
    score = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = _term_tf(F.col("__toks"), t).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df_{i}") + 0.5) / (F.col(f"__df_{i}") + 0.5)
        )
        norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
        score = score + idf * tf * (k1 + 1.0) / norm
    return (
        scored.withColumn("__raw", score)
        .filter(F.col("__raw") > 0)  # pre-rounding, as the SQL oracle
        .withColumn("score", F.round("__raw", 6))
        .select(id_col, "score", "dl")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


# --------------------------------------------------------------- LM / vectors

# leading space: whitespace-split tokens can never contain a space, so
# the sentinel row cannot collide with a real corpus token (a literal
# '<oov>' in the text would otherwise produce two conflicting rows)
OOV_TOKEN = " <oov>"


def train_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 50_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Unigram language model over the corpus — the poor-man analog of
    the CCNet-style LM quality filter. ONE corpus pass builds the
    (token, count) table (the shuffle carries token partial counts,
    never documents), the top ``vocab_size`` tokens are kept with a
    deterministic (count desc, token asc) cutoff (TakeOrdered — no
    full sort), and log-probs are smoothed add-``alpha``:

        logp(tok in vocab) = ln(count / (T + alpha))
        logp(OOV)          = ln(alpha / (T + alpha))  (row token=OOV_TOKEN)

    where T is the TOTAL corpus token count (including pruned tokens).
    Returns (token, logp) with logp rounded to 6 (model rows are what
    both sides of the oracle compare — round once, at the source)."""
    toks = nonempty_tokens_col(F.col(text_col))
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        # vocabulary-sized; feeds the total AND the top-k cut —
        # unpersisted, the corpus explode ran twice (round 6)
        .persist()
    )
    tot = counts.agg(F.sum("__cnt").alias("__t"))
    kept = counts.orderBy(F.col("__cnt").desc(), F.col("token").asc()).limit(
        vocab_size
    )
    model = kept.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(F.log(F.col("__cnt") / (F.col("__t") + F.lit(alpha))), 6).alias(
            "logp"
        ),
    )
    oov = tot.select(
        F.lit(OOV_TOKEN).alias("token"),
        F.round(F.log(F.lit(alpha) / (F.col("__t") + F.lit(alpha))), 6).alias(
            "logp"
        ),
    )
    return model.unionByName(oov)


def score_unigram_lm(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean token log-prob per document under a ``train_unigram_lm``
    model (higher = more corpus-typical; the LM-filter quality signal).
    Scale path: only the single OOV row comes to the driver (a 1-row
    filtered lookup, never the vocab); the vocab itself is broadcast
    as a DataFrame — no vocab-sized Python-object round-trip through
    createDataFrame. Then explode tokens, broadcast-join, aggregate
    back per document — one shuffle keyed on the id, carrying
    (id, logp) pairs only. Docs with no tokens score 0.0. The model is
    persisted here so its (corpus-pass) lineage evaluates once across
    the OOV probe, the broadcast build, and any re-scoring — Spark
    LRU-evicts it like every K-row model table."""
    model = model.persist()
    oov_row = model.filter(F.col("token") == OOV_TOKEN).select("logp").first()
    if oov_row is None:
        raise ValueError("model has no OOV row (not a train_unigram_lm output)")
    oov_logp = oov_row.logp
    vocab = model.filter(F.col("token") != OOV_TOKEN).select("token", "logp")
    toks = nonempty_tokens_col(F.col(text_col))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("token"))
    # sum the 6-dp-rounded logps as EXACT micro-integers: float summation
    # is order-sensitive across partitions, so a plain avg can flip the
    # 6th decimal between engines/runs; integer sums cannot
    micro = F.round(
        F.coalesce(F.col("logp"), F.lit(oov_logp)) * 1e6
    ).cast("long")
    scored = (
        exploded.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum(micro).alias("__sum_micro"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            id_col,
            F.round(F.col("__sum_micro") / (F.col("n_tokens") * 1e6), 6).alias(
                "lm_score"
            ),
            "n_tokens",
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("lm_score", F.lit(0.0)).alias("lm_score"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )


def hash_embed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashed document vectors (hashing trick): bucket every
    token by its md5-prefix hash mod ``dim``, count per bucket, L2-
    normalize. Bridges the text battery to the embedding stack
    (similarity/ANN/dedup operators consume the output directly).

    Scale path (round 6): the bucketing is per-document row-local, so
    the whole count vector is built in ONE Arrow-batched pass — md5
    computed once per distinct token via a per-task memo (the md5-
    prefix value is bit-identical to the JVM conv(substr(md5)) idiom
    whose DuckDB parity the sketch oracles prove) — replacing the
    per-occurrence md5 HOF + token explode + two hash aggregations
    (nothing ever needed to shuffle). The L2 norm and rounding remain
    the ORIGINAL Spark expressions over the exact integer counts, so
    every emitted value is bit-identical. Empty and NULL documents
    yield zero vectors, as before."""
    import hashlib

    cnt_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("__cnts", T.ArrayType(T.LongType()), False),
        ]
    )
    memo: dict = {}  # token -> bucket, filled on the executor

    def bidx(tok):
        got = memo.get(tok)
        if got is None:
            got = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16) % dim
            memo[tok] = got
        return got

    def bucket_counts(t):
        c = [0] * dim
        for w in py_nonempty_tokens(t) or ():
            c[bidx(w)] += 1
        return {"__cnts": c}

    vecs = arrow_stage(
        spread(df.select(id_col, text_col)), [id_col], [text_col], cnt_schema,
        bucket_counts,
    )
    v = F.transform(F.col("__cnts"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    emb = F.when(norm > 0, F.transform(v, lambda x: F.round(x / norm, 6))).otherwise(
        F.transform(v, lambda x: F.lit(0.0))
    )
    return vecs.select(F.col(id_col), emb.alias("embedding"))


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
    grain: int = 1_000_000,
) -> DataFrame:
    """Pointwise-mutual-information collocations — the corpus-analysis
    pass a tokenizer/phrase pipeline runs before vocabulary decisions
    (word2vec-style phrase mining): for adjacent token pairs with
    count >= min_count, pmi = ln(p(xy) / (p(x) p(y))) with p(xy) over
    bigram positions and p(x) over unigram tokens.

    Returns the top_k rows by (pmi_u desc, w1, w2) — ``pmi_u`` is the
    PMI in integer 1/grain units (half-up) so the cut is decided on
    exact integers with a total-order tiebreak. The float expression
    is evaluated in one fixed association order,
    ``ln((cxy*Nu*Nu) / (Nb*cx*cy))`` over exact int64 counts cast to
    double, so any IEEE engine reproduces it to ~1 ulp (six orders
    below the grain).

    100-TB shape (round 6): ONE tokenize + explode pass over the
    corpus — each token emits a (w1, w2) struct where w2 is the next
    token, or NULL for a document's last token — feeding ONE map-side-
    combined hash aggregation into the vocabulary^2-bounded pair-count
    table. Everything else derives from that small table: bigram
    counts are the non-NULL-w2 rows, unigram counts are sum(c) per w1
    (every token occurrence appears exactly once as w1), Nu = sum(c),
    Nb = sum(c) over non-NULL w2. The old shape tokenized the corpus
    twice and exploded it twice (bigrams + unigrams); the unigram
    shuffle carried every token occurrence, now only vocab-sized
    counts. The pair table is persisted — four consumers; it is
    vocabulary^2-bounded, so the footprint is model-sized, not
    corpus-sized (leak-until-evict, the documented persist trade).
    The corpus total rows (Nu, Nb) are 1-row aggregates joined by
    literal cross-join broadcast. Document text itself never joins or
    shuffles — only tokens and counts do.
    """
    ts = nonempty_tokens_col(F.col(text_col))
    n = F.size(ts)
    pairs = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                F.element_at(ts, i + 1).alias("w1"),
                F.when(i + 1 < n, F.element_at(ts, i + 2)).alias("w2"),
            ),
        ),
    )
    base = (
        df.select(F.explode(pairs).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    bigrams = base.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c_xy")
    )
    unigrams = base.groupBy("w1").agg(F.sum("c").alias("c_tok")).select(
        F.col("w1").alias("token"), "c_tok"
    )
    nu = unigrams.agg(F.sum("c_tok").alias("__nu"))
    nb = bigrams.agg(F.sum("c_xy").alias("__nb"))
    j = (
        bigrams.filter(F.col("c_xy") >= F.lit(int(min_count)))
        .join(unigrams.select(F.col("token").alias("w1"),
                              F.col("c_tok").alias("c_x")), "w1")
        .join(unigrams.select(F.col("token").alias("w2"),
                              F.col("c_tok").alias("c_y")), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.log(
        (F.col("c_xy").cast("double")
         * F.col("__nu").cast("double")
         * F.col("__nu").cast("double"))
        / (F.col("__nb").cast("double")
           * F.col("c_x").cast("double")
           * F.col("c_y").cast("double"))
    )
    out = j.select(
        "w1", "w2",
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        F.floor(pmi * F.lit(float(grain)) + F.lit(0.5)).cast("long")
        .alias("pmi_u"),
    )
    return out.orderBy(
        F.col("pmi_u").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(int(top_k))


def span_corruption_plan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 3,
    mask_num: int = 15,
    mask_den: int = 100,
    seed: int = 9,
) -> DataFrame:
    """Deterministic T5-style span-corruption PLAN (Raffel et al.
    2020): tokens partition into fixed ``span``-token blocks, and
    EXACTLY ``(n_blocks * mask_num) // mask_den`` blocks per document
    are masked — the first in the document's md5 block permutation.
    Exact-count realization (never expectation-only), reshuffle-stable,
    recomputable by any worker or engine; the trainer consumes the
    plan, this operator never rewrites text. Docs with zero tokens
    produce no row (nothing to corrupt).

    Scale shape: one posexplode (row-local), a (doc, block) aggregate,
    a per-doc block window (blocks per doc are bounded by document
    length — never corpus-wide), one group-back. The masked/visible
    char sums witness the exact mask set. Returns (id, n_tokens,
    n_blocks, n_masked_blocks, masked_chars, visible_chars)."""
    if span < 1 or not 0 <= mask_num <= mask_den or mask_den < 1:
        raise ValueError("bad span/mask parameters")
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(nonempty_tokens_col(F.col(text_col)))
        .alias("pos", "w"),
    )
    blk = tok.groupBy(
        id_col, F.expr(f"pos div {int(span)}").alias("__b")
    ).agg(
        F.sum(F.length("w")).alias("__chars"),
        F.count(F.lit(1)).alias("__nt"),
    )
    w = Window.partitionBy(id_col).orderBy(
        md5_hex(F.col(id_col), ":", F.col("__b"), f":{seed}"),
        F.col("__b"),
    )
    wc = Window.partitionBy(id_col)
    ranked = (
        blk.withColumn("__r", F.row_number().over(w))
        .withColumn("__nb", F.count(F.lit(1)).over(wc))
        .withColumn(
            "__nm",
            F.expr(f"(__nb * {int(mask_num)}) div {int(mask_den)}"))
    )
    return ranked.groupBy(id_col).agg(
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.max("__nb").cast("long").alias("n_blocks"),
        F.max("__nm").cast("long").alias("n_masked_blocks"),
        F.sum(F.when(F.col("__r") <= F.col("__nm"), F.col("__chars"))
              .otherwise(0)).cast("long").alias("masked_chars"),
        F.sum(F.when(F.col("__r") > F.col("__nm"), F.col("__chars"))
              .otherwise(0)).cast("long").alias("visible_chars"),
    )


def mlm_mask_plan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_num: int = 15,
    mask_den: int = 100,
    seed: int = 11,
) -> DataFrame:
    """Deterministic BERT-style MLM masking PLAN (Devlin et al. 2018):
    EXACTLY ``(n_tokens * mask_num) // mask_den`` tokens per document
    are selected — the first in the document's md5 token permutation
    (exact-count realization, never expectation-only) — and each
    selected token draws its action from two md5 hex digits of an
    independent ``:a``-suffixed key: d%10 < 8 → [MASK], == 8 → random
    replacement, == 9 → keep (the 80/10/10 split). Reshuffle-stable
    per seed, recomputable by any worker or engine; the trainer
    consumes the plan, text is never rewritten here. Zero-token docs
    produce no row.

    Scale shape: one posexplode (row-local), a per-doc token window
    (bounded by document length — never corpus-wide; the
    span_corruption_plan shape), one group-back. Returns per doc:
    (id, n_tokens, n_masked, n_mask_tok, n_rand_tok, n_keep_tok,
    masked_chars)."""
    if not 0 <= mask_num <= mask_den or mask_den < 1:
        raise ValueError("bad mask parameters")
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(nonempty_tokens_col(F.col(text_col)))
        .alias("pos", "w"),
    )
    key = md5_hex(F.col(id_col), ":", F.col("pos"), f":{int(seed)}")
    akey = md5_hex(F.col(id_col), ":", F.col("pos"), f":{int(seed)}:a")
    wperm = Window.partitionBy(id_col).orderBy(key, F.col("pos"))
    wc = Window.partitionBy(id_col)
    ranked = (
        tok.withColumn("__r", F.row_number().over(wperm))
        .withColumn("__nt", F.count(F.lit(1)).over(wc))
        .withColumn(
            "__nm",
            F.expr(f"(__nt * {int(mask_num)}) div {int(mask_den)}"))
        .withColumn(
            "__act",
            md5_int(akey, 1, 2).cast("int") % 10)
    )
    m = F.col("__r") <= F.col("__nm")
    return ranked.groupBy(id_col).agg(
        F.max("__nt").cast("long").alias("n_tokens"),
        F.max("__nm").cast("long").alias("n_masked"),
        F.sum(F.when(m & (F.col("__act") < 8), 1).otherwise(0))
        .cast("long").alias("n_mask_tok"),
        F.sum(F.when(m & (F.col("__act") == 8), 1).otherwise(0))
        .cast("long").alias("n_rand_tok"),
        F.sum(F.when(m & (F.col("__act") == 9), 1).otherwise(0))
        .cast("long").alias("n_keep_tok"),
        F.sum(F.when(m, F.length("w")).otherwise(0))
        .cast("long").alias("masked_chars"),
    )


def truncation_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    bucket_width: int = 16,
) -> DataFrame:
    """Sequence-length histogram + truncation-loss audit — the report
    that picks a context length BEFORE committing a 100-TB
    tokenization run: per length bucket (n div bucket_width), the doc
    count, total token mass, how many docs a ``max_tokens`` cutoff
    would truncate, and exactly how many tokens it would discard.
    Token counts come from the shared whitespace tokenizer via length
    arithmetic only (no explode — nothing wide ever materializes);
    one map-side-combined groupBy onto the bounded bucket axis.
    Returns (bucket, n_docs, total_tokens, truncated_docs,
    lost_tokens)."""
    if max_tokens < 1 or bucket_width < 1:
        raise ValueError("max_tokens and bucket_width must be >= 1")
    n = token_count(F.col(text_col)).cast("long")
    t = df.filter(F.col(text_col).isNotNull()).select(n.alias("__n"))
    m = int(max_tokens)
    return (
        t.groupBy(F.expr(f"__n div {int(bucket_width)}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
            F.sum(F.when(F.col("__n") > m, 1).otherwise(0))
            .alias("truncated_docs"),
            F.sum(F.when(F.col("__n") > m, F.col("__n") - m).otherwise(0))
            .alias("lost_tokens"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("truncated_docs").cast("long").alias("truncated_docs"),
            F.col("lost_tokens").cast("long").alias("lost_tokens"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    token_col: str = "token",
    top_n: int = 10,
    grain: int = 1_000_000,
) -> DataFrame:
    """Tokenizer-coverage audit: the share of corpus token OCCURRENCES
    a vocabulary covers, plus the top-N out-of-vocabulary tokens by
    count — the check that catches a domain-mismatched tokenizer
    before training. Tokens explode row-local, the vocab joins
    broadcast (vocabularies are config-sized), OOV heads come from a
    TakeOrdered top-N, and the global totals ride every row from a
    1-row broadcast (the skew_report shape). coverage_u is one integer
    floor division at ``grain``. Returns top_n rows: (rank, token, n,
    n_tokens, n_oov, coverage_u)."""
    from pyspark.sql.window import Window

    # one corpus pass reduces occurrences to the vocabulary-sized
    # (token, count) table (map-side combined); PERSISTED — it feeds
    # both the totals aggregate and the OOV top-N, which previously
    # re-scanned and re-exploded the corpus (round 6; the ADVICE.md
    # dual-consumer finding)
    tc = (
        df.select(
            F.explode(nonempty_tokens_col(F.col(text_col))).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    v = vocab.select(
        F.col(token_col).alias("__w")
    ).distinct().withColumn("__in", F.lit(1))
    j = tc.join(F.broadcast(v), "__w", "left")
    tot = j.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("__in") == 1, F.col("n")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("__hits"),
    ).select(
        "n_tokens",
        (F.col("n_tokens") - F.col("__hits")).alias("n_oov"),
        F.expr(
            f"(__hits * CAST({int(grain)} AS BIGINT)) div n_tokens"
        ).alias("coverage_u"),
    )
    oov = (
        j.filter(F.col("__in").isNull())
        .select("__w", "n")
        .orderBy(F.col("n").desc(), F.col("__w").asc())
        .limit(int(top_n))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("__w").asc())
    ranked = oov.withColumn("rank", F.row_number().over(w))
    # the unpartitioned window runs over <= top_n rows (post-limit) —
    # the documented K-row exception to the no-global-window rule
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rank",
        F.col("__w").alias("token"),
        "n",
        "n_tokens",
        "n_oov",
        "coverage_u",
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    grain: int = 1_000_000,
) -> DataFrame:
    """Per-document top-k keywords by an integer tf-idf surrogate —
    the retrieval/labeling primer next to bm25_rank (which scores a
    QUERY against docs; this extracts each doc's own salient terms):
    ``score_u = (tf · N · grain) div df`` (reciprocal-df weighting,
    one deferred floor division — the log-idf variant would put a
    float in the compare), ranked per doc by (score_u DESC, token
    ASC).

    Scale shape: tf = one (doc, token) groupBy; df = one distinct +
    token groupBy (vocab-bounded result, broadcast back); N = one
    count collected driver-side; the rank window is per-doc (bounded
    by the doc's distinct-token count, never corpus-wide). Returns
    (id, rank, token, tf, df, score_u)."""
    from pyspark.sql.window import Window

    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    g = int(grain)
    tok = df.select(
        F.col(id_col),
        F.explode(nonempty_tokens_col(F.col(text_col))).alias("__w"),
    )
    # tf rows ARE the distinct (doc, token) pairs, so df derives from
    # the tf table (one corpus explode instead of two; persisted for
    # its two consumers — round 6)
    tf = tok.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("__w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = int(
        df.filter(F.col(text_col).isNotNull())
        .select(id_col).distinct().count()
    )
    scored = tf.join(F.broadcast(dfreq), "__w").select(
        id_col,
        F.col("__w").alias("token"),
        "tf",
        "df",
        F.expr(
            f"(tf * CAST({n_docs} AS BIGINT) * CAST({g} AS BIGINT))"
            " div df"
        ).alias("score_u"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_u").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(id_col, "rank", "token", "tf", "df", "score_u")
    )


def _bigrams_over(df: DataFrame, text_col: str, id_col: str = None) -> DataFrame:
    """Exploded adjacent-token-pair rows: (id, w1, w2) — or (w1, w2)
    when ``id_col`` is None (training needs no identity). Pure HOF:
    transform over the first n-1 tokens, indexing the captured token
    array (0-based Spark indexing; lambda i is the slice position, so
    __bt[i + 1] is the successor in the ORIGINAL array)."""
    toks = nonempty_tokens_col(F.col(text_col))
    ids = [F.col(id_col)] if id_col is not None else []
    with_t = df.select(*ids, toks.alias("__bt"))
    pairs = with_t.select(
        *([id_col] if id_col is not None else []),
        F.explode(
            F.expr(
                "transform(slice(__bt, 1, greatest(size(__bt) - 1, 0)),"
                " (x, i) -> struct(x AS w1, __bt[i + 1] AS w2))"
            )
        ).alias("__p"),
    )
    keep = [id_col] if id_col is not None else []
    return pairs.select(
        *keep, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Order-2 LM for the CCNet-style perplexity filter: one corpus pass
    counts (w1, w2) pairs and w1 context totals, then add-``alpha``
    smoothing over the observed vocabulary V:

        logp(w2 | w1)   = ln((c(w1,w2) + a) / (c(w1,.) + a*V))
        logp(OOV | w1)  = ln(a / (c(w1,.) + a*V))     (row w2=OOV)
        logp(. | OOV)   = ln(1 / V)                   (row w1=w2=OOV)

    Returns (w1, w2, logp) rounded to 6dp at the source (model rows are
    the cross-engine compare unit). Scale: the shuffle carries pair
    partial counts only — the model is vocab^2-bounded regardless of
    corpus size, so it broadcasts."""
    pairs = _bigrams_over(df, text_col)
    # vocab size from the unigram pass (1-row probe, never the vocab)
    toks = df.select(F.explode(nonempty_tokens_col(F.col(text_col))).alias("token"))
    vrow = toks.agg(F.countDistinct("token").alias("__v")).first()
    v = int(vrow["__v"]) if vrow and vrow["__v"] else 1
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    ctx = pc.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    denom = F.col("__c1") + F.lit(alpha * v)
    model = pc.join(ctx, "w1").select(
        "w1",
        "w2",
        F.round(F.log((F.col("__c12") + F.lit(alpha)) / denom), 6).alias("logp"),
    )
    oov_ctx = ctx.select(
        "w1",
        F.lit(OOV_TOKEN).alias("w2"),
        F.round(F.log(F.lit(alpha) / denom), 6).alias("logp"),
    )
    oov_all = df.sparkSession.range(1).select(
        F.lit(OOV_TOKEN).alias("w1"),
        F.lit(OOV_TOKEN).alias("w2"),
        F.round(F.log(F.lit(1.0 / v)), 6).alias("logp"),
    )
    return model.unionByName(oov_ctx).unionByName(oov_all)


def score_bigram_lm(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean bigram log-prob per document under a ``train_bigram_lm``
    model. Three-level backoff resolved with two broadcast joins (pair
    rows, then per-context OOV rows), the global OOV row fetched as a
    1-row probe (never the model). Docs with < 2 tokens score 0.0 with
    n_bigrams = 0. The per-doc sum is an exact micro-integer (the
    6dp-rounded logps scaled by 1e6) — float summation order cannot
    flip the 6th decimal between engines.

    The model persists here (one corpus-pass lineage serving the probe
    plus two broadcast builds) and is deliberately left cached —
    leak-until-evict, like every K-row model table in this codebase
    (the score_unigram_lm precedent); Spark LRU-evicts it."""
    model = model.persist()
    g_row = (
        model.filter((F.col("w1") == OOV_TOKEN) & (F.col("w2") == OOV_TOKEN))
        .select("logp")
        .first()
    )
    if g_row is None:
        raise ValueError("model has no global OOV row (not a train_bigram_lm output)")
    g_logp = float(g_row["logp"])
    pair_m = model.filter(F.col("w2") != OOV_TOKEN).select("w1", "w2", "logp")
    ctx_m = (
        model.filter((F.col("w2") == OOV_TOKEN) & (F.col("w1") != OOV_TOKEN))
        .select(F.col("w1").alias("w1c"), F.col("logp").alias("logp_ctx"))
    )
    bg = _bigrams_over(df.select(id_col, text_col), text_col, id_col)
    micro = F.round(
        F.coalesce(F.col("logp"), F.col("logp_ctx"), F.lit(g_logp)) * 1e6
    ).cast("long")
    scored = (
        bg.join(F.broadcast(pair_m), ["w1", "w2"], "left")
        .join(F.broadcast(ctx_m), F.col("w1") == F.col("w1c"), "left")
        .groupBy(id_col)
        .agg(F.sum(micro).alias("__s"), F.count(F.lit(1)).alias("n_bigrams"))
        .select(
            id_col,
            F.round(F.col("__s") / (F.col("n_bigrams") * 1e6), 6).alias("lm2_score"),
            "n_bigrams",
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("lm2_score", F.lit(0.0)).alias("lm2_score"),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        )
    )


def blocklist_hits(
    df: DataFrame,
    terms: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level blocklist audit — the word-filter stage every web
    corpus runs (C4's bad-words pass). Returns (id, n_hits, hits,
    blocked) where hits is the sorted deduped comma-joined intersection
    of the document's tokens with ``terms``. Row-local (the term list is
    a literal array — no join, no shuffle); NULL text → 0 hits."""
    toks = nonempty_tokens_col(F.col(text_col))
    lit_terms = F.array(*[F.lit(t) for t in sorted(set(terms))])
    inter = F.array_sort(F.array_intersect(toks, lit_terms))
    return df.select(
        F.col(id_col),
        F.coalesce(F.size(inter), F.lit(0)).cast("int").alias("n_hits"),
        F.coalesce(F.array_join(inter, ","), F.lit("")).alias("hits"),
        F.coalesce(F.size(inter) > 0, F.lit(False)).cast("int").alias("blocked"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic text normalization — the cleanup stage every web
    corpus runs before tokenization/dedup (stray control bytes and
    whitespace chaos defeat exact dedup and skew token stats). Rules,
    applied in order, all row-local JVM regexps with explicit
    character classes (never \\s — Java and RE2 disagree on its
    membership, the documented \\x0b trap):

      1. drop ASCII control chars except tab/newline
         ([\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]),
      2. collapse runs of spaces/tabs to one space,
      3. strip spaces around newlines,
      4. collapse 3+ newlines to exactly two (paragraph break),
      5. trim leading/trailing spaces and newlines.

    Returns (id, text_norm, n_ctrl, changed). NULL text stays NULL."""
    t0 = F.col(text_col)
    ctrl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    n_ctrl = F.when(
        t0.isNull(), F.lit(None).cast("int")
    ).otherwise(
        (F.length(t0) - F.length(F.regexp_replace(t0, ctrl, ""))).cast("int")
    )
    t = F.regexp_replace(t0, ctrl, "")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    t = F.regexp_replace(t, r"^[ \n]+|[ \n]+$", "")
    return df.select(
        F.col(id_col),
        t.alias("text_norm"),
        n_ctrl.alias("n_ctrl"),
        F.coalesce(t != t0, F.lit(False)).cast("int").alias("changed"),
    )
