"""Text-analysis operators for training-data pipelines — all built-in
`pyspark.sql.functions` (JVM-side, codegen-friendly; no Python UDFs), so they
scan 100 TB at parquet-read speed with full column pruning.

Operators: tokenization, token counting, quality scoring, n-gram language ID
heuristic, and polynomial document fingerprinting. Each has an exact ANSI-SQL
twin (see queries/text.py) so the DuckDB oracle validates values, not just
shapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small cross-language stopword/marker sets for the language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "que"],
}
#: deterministic priority for score ties (alphabetical)
LANG_ORDER = ["de", "en", "es", "fr"]

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

FP_MOD = 1_000_000_007
FP_MUL = 31


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Lowercased alnum tokens (whitespace + punctuation split; a BPE-ish
    regex boundary). SQL twin: list_filter(string_split_regex(lower(t),
    '[^a-z0-9]+'), x -> x != '')."""
    arr = F.split(F.lower(_c(text)), "[^a-z0-9]+")
    return F.filter(arr, lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def alpha_ratio(text: Column | str) -> Column:
    t = _c(text)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z ]", ""))
    return alpha / F.greatest(F.length(t), F.lit(1))


def stopword_ratio(text: Column | str) -> Column:
    tok = tokens(text)
    stops = F.size(F.filter(tok, lambda x: x.isin(STOPWORDS)))
    return stops / F.greatest(F.size(tok), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, alphabetic purity,
    stopword share — the classic cheap pre-filter for web-scale corpora."""
    n_tok = token_count(text)
    len_term = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_term
        + F.lit(0.3) * alpha_ratio(text)
        + F.lit(0.3) * stopword_ratio(text)
    )
    return F.round(score, 6)


def lang_scores(text: Column | str) -> dict[str, Column]:
    tok = F.array_distinct(tokens(text))
    return {
        lang: F.size(F.filter(tok, lambda x: x.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """N-gram/stopword language-ID heuristic. ``zh`` when CJK codepoints are
    present; otherwise the marker-set argmax with alphabetical tiebreak."""
    t = _c(text)
    scores = lang_scores(text)
    best = None
    best_lang = F.lit(LANG_ORDER[0])
    for lang in LANG_ORDER:
        s = scores[lang]
        if best is None:
            best = s
        else:
            is_better = s > best
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best = F.when(is_better, s).otherwise(best)
    has_cjk = t.rlike("[\\u4e00-\\u9fff]")
    return F.when(has_cjk, F.lit("zh")).otherwise(
        F.when(best == 0, F.lit("und")).otherwise(best_lang)
    )


def lang_id_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, lang_pred) — same semantics as ``lang_id`` (marker-set argmax
    over DISTINCT tokens, alphabetical tiebreak, CJK → zh, no markers →
    und) in the hot-path shape: one explode + distinct + grouped
    conditional count-distincts, everything in whole-stage codegen (the
    column-level ``lang_id`` runs four interpreted filter lambdas per row —
    fine in a projection mix, 4× slower as the sole per-doc work on a
    few-split scan)."""
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("token"),
    ).where(F.col("token") != "")
    scores = tok.groupBy(id_col).agg(*[
        F.count_distinct(
            F.when(F.col("token").isin(LANG_MARKERS[lang]), F.col("token"))
        ).alias(f"s_{lang}")
        for lang in LANG_ORDER
    ])
    j = df.select(F.col(id_col), F.col(text_col).alias("_t")).join(
        scores, id_col, "left"
    )
    s = {lang: F.coalesce(F.col(f"s_{lang}"), F.lit(0)) for lang in LANG_ORDER}
    best = F.greatest(*[s[lang] for lang in LANG_ORDER])
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        pred = F.when(s[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(F.col("_t").rlike("[\\u4e00-\\u9fff]"), F.lit("zh")).otherwise(
        F.when(best == 0, F.lit("und")).otherwise(pred)
    )
    return j.select(F.col(id_col), pred.alias("lang_pred"))


def fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over the codepoints of the normalized
    (lowercased, token-joined) text: h = fold(h*31 + ascii(c)) mod 1e9+7.
    Engine-independent by construction (vs xxhash64, whose seeds don't
    match across engines); SQL twin uses list_reduce."""
    norm = F.concat_ws(" ", tokens(text))
    chars = F.filter(F.split(norm, ""), lambda c: c != "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_MUL + x) % FP_MOD,
    )


#: GPT-2-style pre-tokenizer pattern, restricted to constructs whose
#: semantics are identical in Java regex (Spark) and RE2-ish engines
#: (DuckDB): a leading optional space glued to a letter-run or digit-run,
#: else a run of non-space-non-alnum symbols, else residual whitespace.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization: the GPT-2 practice of splitting into
    space-prefixed word/number/symbol chunks BEFORE byte-pair merging —
    the unit a token-budget estimate counts. Pure JVM regex
    (``regexp_extract_all``), no Python. Whitespace-only chunks are
    dropped (they merge into the following token's leading space)."""
    arr = F.regexp_extract_all(_c(text), F.lit(BPE_PATTERN), 0)
    return F.filter(arr, lambda x: x.rlike("[^\\s]"))


def bpe_token_count(text: Column | str) -> Column:
    """Pre-merge token count — the conservative (upper-bound) budget
    estimate: BPE merging only ever reduces the count."""
    return F.size(bpe_tokens(text))


# --------------------------------------------------------------------------
# Real byte-pair-encoding: learn merges from the corpus word histogram,
# apply them with a broadcast merge table (Sennrich et al., ACL 2016 —
# the published algorithm; the x154 pair-stat query is its per-round
# frequency table). Training consumes the WORD HISTOGRAM, not the corpus:
# at 100 TB the distinct-word count table is the only thing that moves,
# and it is capped (top-V by frequency) like every practical BPE trainer.
# --------------------------------------------------------------------------

# end-of-word sentinel: newline is whitespace, and whitespace-run
# pre-tokens are filtered before encoding, so no word symbol can ever
# contain it -- a merged symbol carries it only as its final character
_EOW = "\n"


def _word_syms(word: str) -> tuple:
    return tuple(word) + (_EOW,)


def _merge_word(syms: tuple, pair: tuple) -> tuple:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_learn(
    df: DataFrame,
    text_col: str,
    num_merges: int = 50,
    top_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges: ONE distributed pass builds the
    (word, count) histogram (explode + groupBy — map-side combined), the
    top ``top_words`` rows collect to the driver (histogram-sized, never
    corpus-sized — the same cap every practical trainer applies), and the
    published merge loop runs there. Ties break deterministically by
    (count desc, pair lexicographic), so the merge list is reproducible
    on any engine/partitioning."""
    hist_rows = (
        df.select(F.explode(bpe_tokens(text_col)).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(top_words)
        .collect()
    )
    vocab = {_word_syms(r["w"]): int(r["count"]) for r in hist_rows}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        vocab = {
            _merge_word(syms, best): cnt for syms, cnt in vocab.items()
        }
    return merges


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Encode every document with a learned merge list: Arrow-batched
    ``mapInPandas``, merges broadcast by closure (rank dict), per-batch
    memoization over distinct words (corpus word reuse makes the encode
    cost per DISTINCT word, not per occurrence). Output:
    ``(id, n_pretokens, n_tokens, tokens array<string>)`` — merging only
    ever shrinks n_tokens toward n_pretokens' lower bound."""
    ranks = {pair: r for r, pair in enumerate(merges)}
    pattern = BPE_PATTERN

    def encode_word(word: str, cache: dict) -> list:
        got = cache.get(word)
        if got is not None:
            return got
        syms = _word_syms(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for a, b in zip(syms, syms[1:]):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = (a, b), r
            if best is None:
                break
            syms = _merge_word(syms, best)
        out = []
        for s in syms:
            if s.endswith(_EOW):
                s = s[:-1]
            if s:
                out.append(s)
        cache[word] = out
        return out

    def run(batches):
        import re

        import pandas as pd

        rx = re.compile(pattern)
        for pdf in batches:
            cache: dict = {}
            ids, npre, ntok, toks = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [
                    w for w in rx.findall(text or "") if not w.isspace()
                ]
                enc: list = []
                for w in words:
                    enc.extend(encode_word(w, cache))
                ids.append(did)
                npre.append(len(words))
                ntok.append(len(enc))
                toks.append(enc)
            yield pd.DataFrame(
                {
                    id_col: ids, "n_pretokens": npre,
                    "n_tokens": ntok, "tokens": toks,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} long, n_pretokens long, n_tokens long, "
        "tokens array<string>",
    )


# --------------------------------------------------------------------------
# RAG-style token-window chunking — the standard retrieval/pre-training
# preprocessing step: split each document into overlapping fixed-size token
# windows. Everything is built-in JVM functions (split/sequence/explode/
# slice/array_join — no HOF lambdas, no Python), and the explode
# redistributes per-chunk work across the cluster, so a 100 TB corpus
# chunks at scan throughput with zero shuffle.
# --------------------------------------------------------------------------

def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Explode each doc into overlapping token windows: chunk ``k`` covers
    tokens ``[k*stride, k*stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; the final window may be short
    (slice past the end truncates — identically in DuckDB list slicing).
    Returns ``(id, chunk_id, n_tokens, chunk_text)``; empty docs produce
    no chunks. Each output row is one retrieval unit ready for embedding
    or indexing."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).withColumn("n", F.size("toks")).where(F.col("n") > 0)
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    exploded = toks.select("id", "toks", F.explode(starts).alias("s"))
    chunk = F.slice(F.col("toks"), F.col("s") + 1, chunk_size)
    return exploded.select(
        "id",
        F.expr(f"s div {stride}").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition / quality rules (Rae et al. 2021, public) — the
# standard cheap filters a pre-training corpus passes through before
# tokenization. All built-ins; the modal-n-gram statistic is an explode +
# two-level hash aggregation (map-side combined on (doc, gram)), so it
# scales like a word-count, not like a per-doc Python loop.
# --------------------------------------------------------------------------

def mean_word_len(text: Column | str) -> Column:
    """Mean token length in characters (0.0 for empty docs); exact integer
    sum folded left-to-right, so the oracle reproduces it bit-for-bit."""
    tok = tokens(text)
    total = F.aggregate(
        F.transform(tok, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return F.round(total * 1.0 / F.greatest(F.size(tok), F.lit(1)), 6)


#
# --------------------------------------------------------------------------
# Feature-hashing (hashed bag-of-words) document embeddings — the
# model-free featurizer that bridges the text stack to the vector stack
# (ANN / SemDeDup run unchanged on its output). One explode + a single
# groupBy with ``dims`` conditional SUMs (the proven SimHash shape: map-side
# combinable, whole-stage codegen, no per-doc array scatter loops).
# --------------------------------------------------------------------------

def hashed_bow_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dims: int = 64
) -> DataFrame:
    """(id, vec: array<double>) — token-count vector under the hashing
    trick: bucket = poly_hash(token) mod dims. Documents with zero tokens
    are omitted (their vector has no direction). The polynomial token hash
    is the engine-independent one the dedup family uses, so a SQL oracle
    reproduces the buckets exactly."""
    from nimhdfstore_spark.operators.dedup import poly_hash

    # explicit pre-explode spread: tokens() and the per-token poly_hash
    # are interpreted HOFs — on a single-split corpus the whole
    # tokenize+hash pass lands on one task (3.0 s warm -> 0.9 s at sf0.1)
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    bucketed = tok.withColumn("b", poly_hash(F.col("token")) % dims)
    sums = [
        F.sum(F.when(F.col("b") == p, 1).otherwise(0)).cast("double").alias(f"c{p}")
        for p in range(dims)
    ]
    wide = bucketed.groupBy(id_col).agg(*sums)
    return wide.select(
        F.col(id_col), F.array(*[F.col(f"c{p}") for p in range(dims)]).alias("vec")
    )


# --------------------------------------------------------------------------
# PII redaction — the scrub pass a corpus takes before training. Patterns
# restricted to constructs with identical Java-regex (Spark) and RE2
# (DuckDB) semantics: literal classes, bounded repeats, ASCII \b.
# --------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d ()-]{7,}\d"


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Match counts per PII class (computed on the un-redacted text; the
    three patterns cannot overlap: emails need '@', IPs have no '+', phones
    start with '+' and contain no '.')."""
    t = _c(text)
    return {
        "n_email": F.regexp_count(t, F.lit(PII_EMAIL)),
        "n_phone": F.regexp_count(t, F.lit(PII_PHONE)),
        "n_ip": F.regexp_count(t, F.lit(PII_IPV4)),
    }


def redact_pii(text: Column | str) -> Column:
    """Replace each PII class with a typed placeholder. Email first (its
    local part may contain digits a later pattern could nibble), then IP,
    then phone — all-occurrence replace on both engines."""
    t = _c(text)
    t = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    t = F.regexp_replace(t, PII_PHONE, "<PHONE>")
    return t


#: Gopher-rule thresholds (adapted to the synthetic corpus scale: the word
#: bounds are lowered from 50..100k so the rule set exercises both branches
#: on short documents).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MAX_DUP_2GRAM = 0.60
GOPHER_MAX_TOP_2GRAM = 0.08
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document Gopher-style quality/repetition report.

    Output: (id, n_words, mean_word_len, dup_ngram_frac, top_ngram_frac,
    n_stopwords, gopher_pass) where

    - ``dup_ngram_frac``  = 1 - distinct/total word n-grams (repetition),
    - ``top_ngram_frac``  = modal n-gram count / total (single-phrase spam),
    - ``gopher_pass``     = all threshold rules hold.

    Plan shape: ONE posexplode of the token stream feeds everything — the
    per-doc scalars are a grouped aggregation over it, the n-grams come from
    a window ``lead`` over it, and the modal statistic is a (doc, gram)
    count + per-doc max/sum/count — all whole-stage codegen, all map-side
    combinable, keyed by the document id. (No per-doc array lambdas:
    higher-order functions evaluate interpreted, and on a few-split scan
    that serializes the entire corpus's token work into a handful of tasks;
    the window/agg shuffles also redistribute the compute.) No per-doc
    quadratic array work: the modal gram is NOT an O(g^2) array fold."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias(
            "p", "token"
        ),
    ).where(F.col("token") != "")
    base_agg = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.round(
            F.sum(F.length("token")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("mean_word_len"),
        F.count_distinct(
            F.when(F.col("token").isin(STOPWORDS), F.col("token"))
        ).cast("int").alias("n_stopwords"),
    )
    # zero-token documents vanish from the exploded stream; restore them
    base = (
        df.select(F.col(id_col))
        .join(base_agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.coalesce(F.col("mean_word_len"), F.lit(0.0)).alias("mean_word_len"),
            F.coalesce(F.col("n_stopwords"), F.lit(0)).alias("n_stopwords"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("p")
    lead_cols = [F.lead("token", j).over(w).alias(f"t{j}") for j in range(1, n)]
    leads = tok.select(F.col(id_col), F.col("token"), *lead_cols)
    grams = leads.where(F.col(f"t{n - 1}").isNotNull()).select(
        F.col(id_col),
        F.concat_ws(
            " ", F.col("token"), *[F.col(f"t{j}") for j in range(1, n)]
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_gram.groupBy(id_col).agg(
        F.max("cnt").alias("modal_cnt"),
        F.sum("cnt").alias("total_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
    )
    joined = base.join(stats, id_col, "left")
    total = F.coalesce(F.col("total_grams"), F.lit(0))
    dup_frac = F.when(
        total > 0,
        F.round((total - F.col("distinct_grams")) * 1.0 / total, 6),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        total > 0, F.round(F.col("modal_cnt") * 1.0 / total, 6)
    ).otherwise(F.lit(0.0))
    out = joined.select(
        F.col(id_col),
        "n_words",
        "mean_word_len",
        dup_frac.alias("dup_ngram_frac"),
        top_frac.alias("top_ngram_frac"),
        "n_stopwords",
    )
    rules = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WL)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WL)
        & (F.col("dup_ngram_frac") <= GOPHER_MAX_DUP_2GRAM)
        & (F.col("top_ngram_frac") <= GOPHER_MAX_TOP_2GRAM)
        & (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS)
    )
    return out.withColumn("gopher_pass", rules)


def repetition_trim(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens_n: int = 10,
) -> DataFrame:
    """WITHIN-document repetition removal with text rebuild — the
    repetition scrub of Gopher/RefinedWeb-style pipelines applied as
    surgery rather than a doc-level filter (x25 only scores; x36 marks
    cross-doc boilerplate; this trims): split each document into
    consecutive ``chunk_tokens_n``-token chunks, keep only the FIRST
    occurrence of each repeated chunk string, and re-join the survivors
    in original order.

    Scale shape (same as ``dedup.chunk_boilerplate``): chunk strings are
    assembled with window ``lead`` over the exploded token stream —
    whole-stage codegen, and the doc-partitioned window shuffle spreads
    per-doc work even from a single scan split. First-occurrence marking
    is one more window (per doc+chunk: ``min(idx)``) — no join, no
    cross-document work at all, O(total tokens) end to end. The rebuild
    sorts each doc's surviving chunk list driver-free
    (``sort_array(collect_list(struct))`` + ``array_join``); per-doc
    state is bounded by document length.

    Returns every document:
    ``(id_col, n_chunks, n_repeated, clean_text, clean_len)``.
    """
    from pyspark.sql.window import Window

    e = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    chunk = F.concat_ws(
        " ",
        F.col("token"),
        *[F.lead("token", i).over(w) for i in range(1, chunk_tokens_n)],
    )
    ch = (
        e.withColumn("chunk", chunk)
        .where(F.col("pos") % chunk_tokens_n == 0)
        .select(
            id_col,
            (F.col("pos") / chunk_tokens_n).cast("long").alias("idx"),
            "chunk",
        )
    )
    wfirst = Window.partitionBy(id_col, "chunk")
    marked = ch.withColumn("first_idx", F.min("idx").over(wfirst))
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(
                F.when(F.col("idx") != F.col("first_idx"), 1).otherwise(0)
            ).cast("long").alias("n_repeated"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("idx") == F.col("first_idx"),
                                F.struct("idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_repeated",
            "clean_text",
            F.length("clean_text").cast("long").alias("clean_len"),
        )
    )


# --------------------------------------------------------------------------
# Unicode normalization — the encoding-hygiene pass a crawled corpus runs
# before any hashing/dedup step: the same visible text arrives in NFC and
# NFD (and mixed) byte forms, and every downstream content hash, shingle,
# and exact-dedup key silently treats them as different documents unless
# the corpus is normalized first. Arrow-batched mapInPandas over Python's
# unicodedata (the reference Unicode implementation); DuckDB's
# nfc_normalize implements the same public UAX #15 algorithm, so the
# oracle compares the actual normalized strings.
# --------------------------------------------------------------------------

def unicode_normalize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Normalize a text column to the given Unicode normal form.
    Output: ``(id_col, norm_text, changed, len_before, len_after)`` with
    lengths in code points (matching Spark's ``length`` and DuckDB's
    ``length``). Stateless per-row work — no shuffle; corpus parallelism
    = input partitions."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def batches(it):
        import unicodedata

        import pandas as pd

        for pdf in it:
            ids, norms, changed, lb, la = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = text or ""
                n = unicodedata.normalize(form, t)
                ids.append(did)
                norms.append(n)
                changed.append(int(n != t))
                lb.append(len(t))
                la.append(len(n))
            yield pd.DataFrame({
                id_col: ids, "norm_text": norms, "changed": changed,
                "len_before": lb, "len_after": la,
            })

    return df.select(id_col, text_col).mapInPandas(
        batches,
        f"{id_col} long, norm_text string, changed long, "
        "len_before long, len_after long",
    )


# --------------------------------------------------------------------------
# HTML → text extraction — the first transform a crawled corpus applies.
# Entirely JVM-side (regexp_replace chains in whole-stage codegen, no
# Python): drop script/style/comment blocks, strip tags, unescape the
# core entities, collapse whitespace. The regex constructs used ((?is)
# inline flags, lazy quantifiers, character classes) have identical
# Java-regex / RE2 semantics, so a DuckDB oracle can recompute the same
# pipeline — the precedent x24/x154 established for BPE_PATTERN.
# --------------------------------------------------------------------------

def strip_html(text: Column | str) -> Column:
    """Visible text of an HTML fragment: script/style/comment blocks
    removed first (so their contents never surface), then tags → space,
    then core entity unescape (after tag-stripping, so a literal
    ``&lt;script&gt;`` in text can never become an active tag), then
    whitespace collapse + trim."""
    c = _c(text)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_tag_count(text: Column | str) -> Column:
    """Number of tags in the raw markup (before any stripping)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(r"<[^>]+>"), 0))
