"""Text analysis operators for corpus curation.

Net-new over the reference (north-star requirement): language ID
(marker-word heuristic), quality scoring, token counting, and document
fingerprinting — all as narrow native-function projections (no UDFs, no
shuffles) so they run at scan speed on a 100 TB corpus, and all
engine-portable so the DuckDB oracle can check them.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Mapping

from pyspark import StorageLevel
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import scoped_persist, small_df
from ..table import Table
from .dedup import _ngram_rows, _tokens

# deterministic marker-word lists per language; scoring is the count of
# DISTINCT markers present (array_intersect semantics in both engines)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "para", "con", "que"],
    "pt": ["não", "uma", "são", "também", "já", "você", "isso", "muito", "mais", "como"],
    "it": ["il", "che", "di", "non", "per", "sono", "una", "anche", "questo", "più"],
    "nl": ["de", "het", "een", "niet", "dat", "van", "voor", "zijn", "maar", "ook"],
    "tr": ["bir", "ve", "bu", "için", "ile", "olarak", "çok", "daha", "gibi", "ama"],
    "pl": ["nie", "się", "jest", "na", "do", "że", "jak", "ale", "jego", "przez"],
    "ru": ["и", "не", "на", "что", "это", "как", "по", "его", "она", "так"],
    "ar": ["في", "من", "على", "أن", "إلى", "هذا", "كان", "مع", "التي", "لا"],
    "hi": ["है", "के", "की", "में", "और", "यह", "से", "का", "को", "नहीं"],
    "ja": ["です", "ます", "この", "それ", "ある", "いる", "した", "として", "など", "から"],
    "ko": ["그리고", "있는", "하는", "것이", "하지만", "있다", "우리", "너무", "그것", "같은"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}

# Unicode script ranges counted per CHARACTER over the raw text — pure
# regexp_count projections, identical char-class semantics in Spark
# (java.util.regex) and DuckDB (RE2): the ranges are literal BMP chars.
# Scripts carry languages the marker lists can't (CJK text is not
# whitespace-tokenized; Cyrillic/Arabic/Devanagari text identifies by
# script long before marker words fire).
SCRIPT_RANGES: dict[str, str] = {
    "han": "一-鿿",
    "kana": "぀-ヿ",
    "hangul": "가-힣",
    "cyrillic": "Ѐ-ӿ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
}

# per-language additive script weights. kana/hangul weigh 2 so Japanese
# and Korean beat the shared-Han zh score on mixed-script text (a
# Japanese sentence is mostly kana with some kanji; doubling kana makes
# ja dominate zh deterministically).
LANG_SCRIPTS: dict[str, list[tuple[str, int]]] = {
    "zh": [("han", 1)],
    "ja": [("kana", 2)],
    "ko": [("hangul", 2)],
    "ru": [("cyrillic", 1)],
    "ar": [("arabic", 1)],
    "hi": [("devanagari", 1)],
}

STOPWORD_SAMPLE = LANG_MARKERS["en"]


# GPT-2-style pre-tokenizer approximation: contractions, space-prefixed
# letter runs, digit runs, punctuation runs, plus a whitespace-run arm
# (GPT-2's own pattern has \s+ arms) so newlines/tabs/multi-spaces
# become their own tokens and piece concatenation is LOSSLESS — without
# it 'hello\nworld' reconstructed as 'helloworld'. GPT-2's \s+(?!\S)
# lookahead is unavailable (RE2 has no lookahead), so a whitespace run
# before a word stays one token instead of splitting its last space
# onto the word. No capture groups, same leftmost-first alternation
# semantics in Java regex and RE2, so the identical pattern runs in
# Spark and DuckDB (verified side-by-side in tests).
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"

# Han + Hiragana/Katakana (SCRIPT_RANGES han/kana): scripts written
# WITHOUT word spaces, so whitespace tokenization lumps a whole CJK
# paragraph into ~1 token and every token-budgeted stage (stats,
# chunking, packing, Gopher bands) mis-measures by 100x. Hangul is
# deliberately excluded — Korean IS whitespace-segmented. The proxy:
# each CJK char counts as one token (space-pad it, then the normal
# whitespace split applies), the standard char-level convention for
# unsegmented scripts; the BPE proxy counts ceil(chars/2) (BPE merges
# ~2 CJK chars per piece). Literal BMP ranges — identical char-class
# semantics in Spark (java.util.regex) and DuckDB (RE2), so oracles
# replay the exact expressions.
CJK_CLASS = "一-鿿぀-ヿ"


def _cjk_pad(col: Column) -> Column:
    """Space-pad each CJK char so the whitespace tokenizer treats it
    as its own token (identity on text without CJK)."""
    return F.regexp_replace(col, f"([{CJK_CLASS}])", " $1 ")


def _aware_tokens(col) -> Column:
    """CJK-aware whitespace tokens: per-char for Han/kana runs,
    whitespace words elsewhere."""
    c = F.col(col) if isinstance(col, str) else col
    return _tokens(_cjk_pad(c))


def _cjk_count(col: Column) -> Column:
    """Number of CJK (Han/kana) chars — length-difference, no UDF."""
    return F.length(col) - F.length(
        F.regexp_replace(col, f"[{CJK_CLASS}]", "")
    )


def _cjk_dominant(col: Column) -> Column:
    """True when >=50% of the non-whitespace chars are Han/kana — the
    gate for exempting word-shaped Gopher rules (mean token length,
    English stopword ratio) that are meaningless at char granularity."""
    return (_cjk_count(col) * 2) >= F.length(
        F.regexp_replace(col, r"\s", "")
    )


def token_stats(table: Table, text_col: str, id_col: str) -> Table:
    """CJK-aware token count + distinct-token count + type/token ratio,
    plus a BPE-ish subword proxy count and the CJK char count.

    Tokens are whitespace words with each Han/kana char its own token
    (``_aware_tokens`` — identity on space-segmented text). The BPE
    proxy is ``BPE_TOKEN_RE`` matches over the text with CJK runs
    collapsed, plus ceil(cjk_chars / 2) — BPE merges ~2 CJK chars per
    piece, where the raw regex would lump a whole CJK run into one
    ``[^\\sA-Za-z0-9]+`` match."""
    toked = table.df.select(
        F.col(id_col),
        F.col(text_col).alias("__txt__"),
        _aware_tokens(text_col).alias("__tk__"),  # split once per row
    )
    toks = F.col("__tk__")
    cjk = _cjk_count(F.col("__txt__"))
    out = toked.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.size(
                F.regexp_extract_all(
                    # CJK runs (with adjacent whitespace) collapse to
                    # one space + trim, so a pure-CJK doc leaves no
                    # residual whitespace piece
                    F.trim(
                        F.regexp_replace(
                            F.col("__txt__"),
                            rf"\s*[{CJK_CLASS}]+\s*",
                            " ",
                        )
                    ),
                    F.lit(BPE_TOKEN_RE),
                    F.lit(0),
                )
            )
            + F.floor((cjk + F.lit(1)) / F.lit(2)).cast("int")
        ).alias("n_bpe_tokens"),
        cjk.cast("int").alias("n_cjk_chars"),
    ).withColumn(
        "ttr",
        F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"),
    )
    return Table.from_df(out, name=f"{table.table_name}_tokens")


def quality_score(table: Table, text_col: str, id_col: str) -> Table:
    """Heuristic quality features + composite score.

    Features: char length, token count, mean token length, punctuation
    density, stopword ratio. The composite is a deterministic linear
    blend clamped to [0, 1] — same arithmetic in SQL.
    """
    toked_cols, final_cols = _quality_score_exprs(text_col, id_col)
    out = table.df.select(*toked_cols).select(*final_cols)
    return Table.from_df(out, name=f"{table.table_name}_quality")


@lru_cache(maxsize=32)
def _quality_score_exprs(text_col: str, id_col: str):
    """``quality_score``'s input-independent Column trees, built once
    per shape (see ``_lang_id_exprs``)."""
    # materialize the token array once — the tokenizer expression is
    # referenced by three signals, and inlining it re-runs the regex
    # split per signal (same lesson as filter_quality/repetition_score)
    toked_cols = (
        F.col(id_col),
        F.col(text_col).alias("__txt__"),
        _aware_tokens(text_col).alias("__tk__"),
    )
    toks = F.col("__tk__")
    n_chars = F.length(F.col("__txt__"))
    n_tokens = F.size(toks)
    mean_tok_len = (
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_tokens
    )
    punct = F.length(F.regexp_replace(F.col("__txt__"), r"[^.,;:!?]", ""))
    punct_ratio = punct.cast("double") / n_chars
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(STOPWORD_SAMPLE))
    )
    stop_ratio = stop_hits.cast("double") / n_tokens
    score = (
        F.lit(0.25) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.25) * F.least(mean_tok_len / F.lit(8.0), F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.25) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    # no rounding: the features are dyadic-rational-heavy (quarter
    # weights, small-integer ratios) and land exactly on round-half
    # boundaries where engines disagree; unrounded same-order doubles
    # are bit-identical across engines
    final_cols = (
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )
    return toked_cols, final_cols


#: Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language
#: Models", table A1 — the public standard for rule-based corpus
#: filtering). Tuned constants are parameters; these are the defaults.
GOPHER_RULES: dict[str, tuple[float, float]] = {
    # rule name -> (lo, hi) inclusive bounds on the underlying signal
    "n_tokens": (50.0, 100_000.0),
    "mean_token_len": (3.0, 10.0),
    "symbol_ratio": (0.0, 0.1),
    "stopword_ratio": (0.02, 1.0),
}


def filter_quality(
    table: Table,
    text_col: str,
    id_col: str,
    rules: Mapping[str, tuple[float, float]] | None = None,
) -> Table:
    """Rule-based quality filtering with an audit trail — the
    Gopher-rule keep/drop step of corpus curation, kept explainable:
    every row carries ``keep`` plus ``failed_rules``, the array of rule
    names it violated (in a fixed rule order), so curation decisions
    can be audited, aggregated per rule, and re-litigated without
    re-running the pipeline.

    Each rule is an inclusive ``lo <= signal <= hi`` band over a
    deterministic text signal (token count, mean token length, symbol
    density, stopword ratio). Pure narrow projection — no shuffle, no
    UDF, scan-speed at any scale; downstream callers typically
    ``where(keep=True)`` (pushed to the scan) or group on
    ``explode(failed_rules)`` for a per-rule rejection report.

    CJK: tokens are ``_aware_tokens`` (per-char for Han/kana), and the
    word-shaped rules — ``mean_token_len`` and the English
    ``stopword_ratio`` — are EXEMPT for CJK-dominant docs (>=50%
    Han/kana chars): at char granularity mean token length is ~1 and
    English stopwords are absent, so without the exemption every
    Chinese/Japanese doc would be flagged by rules that exist to catch
    gibberish, not scripts.
    """
    rules = dict(rules) if rules is not None else dict(GOPHER_RULES)
    unknown = set(rules) - set(GOPHER_RULES)
    if unknown:
        raise ValueError(f"unknown quality rules: {sorted(unknown)}")
    toked_cols, sig_cols, final_cols = _filter_quality_exprs(
        text_col, id_col, tuple(sorted((k, float(v[0]), float(v[1])) for k, v in rules.items()))
    )
    out = (
        table.df.select(*toked_cols).select(*sig_cols).select(*final_cols)
        .drop("__cjk__")
    )
    return Table.from_df(out, name=f"{table.table_name}_filtered")


@lru_cache(maxsize=32)
def _filter_quality_exprs(text_col: str, id_col: str, rule_items: tuple):
    """``filter_quality``'s input-independent Column trees, built once
    per (columns, rules) shape (see ``_lang_id_exprs``)."""
    rules = {k: (lo, hi) for k, lo, hi in rule_items}
    # materialize the token array ONCE (the repetition_score trick):
    # referencing the tokenizer expression inside each signal would
    # re-run the regex split per signal AND again per rule check —
    # measured ~3x end-to-end on the bench corpus
    toked_cols = (
        F.col(id_col),
        F.col(text_col).alias("__txt__"),
        _aware_tokens(text_col).alias("__tk__"),
        _cjk_dominant(F.col(text_col)).alias("__cjk__"),
    )
    tk = F.col("__tk__")
    n_tokens = F.size(tk)
    signals: dict[str, Column] = {
        "n_tokens": n_tokens.cast("double"),
        "mean_token_len": (
            F.aggregate(
                tk, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            ).cast("double")
            / n_tokens
        ),
        "symbol_ratio": (
            F.length(
                F.regexp_replace(F.col("__txt__"), r"[A-Za-z0-9\s]", "")
            ).cast("double")
            / F.length(F.col("__txt__"))
        ),
        "stopword_ratio": (
            F.size(
                F.filter(tk, lambda t: F.lower(t).isin(STOPWORD_SAMPLE))
            ).cast("double")
            / n_tokens
        ),
    }
    sig_cols = (
        F.col(id_col),
        *[signals[n].alias(n) for n in GOPHER_RULES if n in rules],
        F.col("__cjk__"),
    )
    # word-shaped rules that are meaningless at CJK char granularity
    _CJK_EXEMPT = {"mean_token_len", "stopword_ratio"}
    checks = []
    for name in GOPHER_RULES:  # fixed order for the audit array
        if name not in rules:
            continue
        lo, hi = rules[name]
        sig = F.col(name)  # the materialized signal, not a recompute
        ok = sig.isNotNull() & (sig >= F.lit(float(lo))) & (sig <= F.lit(float(hi)))
        if name in _CJK_EXEMPT:
            ok = ok | F.col("__cjk__")
        checks.append(F.when(~ok, F.lit(name)))
    failed = F.array_compact(F.array(*checks)) if checks else F.array().cast(
        "array<string>"
    )
    final_cols = (
        F.col("*"),
        failed.alias("failed_rules"),
        (F.size(failed) == 0).alias("keep"),
    )
    return toked_cols, sig_cols, final_cols


def lang_id(table: Table, text_col: str, id_col: str) -> Table:
    """marker-word + Unicode-script language ID heuristic (16 langs).

    Scores each language by the count of distinct marker words present
    plus weighted per-character script counts (``LANG_SCRIPTS`` /
    ``SCRIPT_RANGES`` — CJK/Cyrillic/Arabic/Devanagari text identifies
    by script, which whitespace-tokenized markers alone can't do for
    unsegmented scripts); the prediction is the argmax with a fixed tie
    order (languages compared in sorted code order). Deterministic,
    zero Python in the row path, and SQL-expressible — both the
    intersect and the regexp_count translate 1:1 to DuckDB.
    """
    toked_cols, scored_cols, final_cols = _lang_id_exprs(text_col, id_col)
    out = table.df.select(*toked_cols).select(*scored_cols).select(*final_cols)
    return Table.from_df(out, name=f"{table.table_name}_langid")


@lru_cache(maxsize=32)
def _lang_id_exprs(text_col: str, id_col: str):
    """``lang_id``'s input-independent Column trees, built once per
    (text_col, id_col) shape: 16 languages x dozens of marker literals
    plus the script regexps cost ~0.5 s of pure py4j round trips per
    call (measured — more than half the query's wall time at sf0.1).
    Expression trees are immutable and reference column NAMES, so the
    same objects compose into any DataFrame's plan (same memoization as
    dedup._shingle_exprs; guide §1.2, driver-side edition)."""
    # lowercase token array + script counts materialized once: the
    # per-language loop references them len(LANG_MARKERS) times, which
    # would otherwise re-run the split/lower/regexp per language
    toked_cols = (
        F.col(id_col),
        F.transform(_tokens(text_col), F.lower).alias("__tkl__"),
        *[
            F.regexp_count(
                F.coalesce(F.col(text_col), F.lit("")), F.lit(f"[{rng}]")
            ).alias(f"__sc_{name}__")
            for name, rng in SCRIPT_RANGES.items()
        ],
    )
    toks_lower = F.col("__tkl__")
    codes = sorted(LANG_MARKERS)
    scores: list[tuple[str, Column]] = []
    for code in codes:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[code]])
        s: Column = F.size(F.array_intersect(toks_lower, markers))
        for script, wgt in LANG_SCRIPTS.get(code, []):
            s = s + F.lit(wgt) * F.col(f"__sc_{script}__")
        scores.append((code, s.cast("int")))
    # Materialize the score COLUMNS first, then argmax over column
    # references with greatest() + a linear when-chain (first language
    # in sorted order wins ties). A fold-style argmax that re-embeds
    # the running best in every branch doubles the expression tree per
    # language — at 16 languages that is a 2^16-node plan Catalyst
    # chokes on (measured: 250× slower); this form is linear.
    scored_cols = (
        F.col(id_col), *[s.alias(f"score_{code}") for code, s in scores]
    )
    g = F.greatest(*[F.col(f"score_{c}") for c in codes])
    pred: Column = F.when(g <= F.lit(0), F.lit("unknown"))
    for c in codes:
        pred = pred.when(F.col(f"score_{c}") == g, F.lit(c))
    final_cols = (
        F.col(id_col),
        *[F.col(f"score_{c}") for c in codes],
        pred.otherwise(F.lit("unknown")).alias("pred_lang"),
    )
    return toked_cols, scored_cols, final_cols


def doc_fingerprint(table: Table, text_col: str, id_col: str) -> Table:
    """Content fingerprints: normalized md5 + per-position rolling window
    hashes (winnowing-style minimum) for near-dup detection.

    The window strings explode to rows first so the md5 runs in
    whole-stage codegen (hashing inside an interpreted array transform is
    ~10× slower). The gram construction is the NARROW ``_ngram_rows``
    form (transform+slice, no window-lead shuffle of the token stream)
    and the per-doc md5 rides the explode as a groupBy key, so the only
    exchange is the min-aggregation's map-side-combined one (~one row
    per doc per partition) and there is no join back to the doc table —
    at corpus scale this deletes a full token-stream exchange plus a
    second corpus scan from the plan (guide §2.3/§2.4).

    Contract: rows must be unique in ``id_col`` — duplicate ids fold
    into one (id, fingerprint) group here, where a corpus-wide distinct
    would have, so only exact-duplicate rows are indistinguishable.
    """
    from .dedup import _ngram_rows

    norm_fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "))
    lowered = table.df.select(
        F.col(id_col),
        norm_fp.alias("fingerprint"),
        F.lower(F.col(text_col)).alias("__lt__"),
    )
    windows = _ngram_rows(lowered, id_col, "__lt__", 4, keep_cols=("fingerprint",))
    out = (
        windows.groupBy(id_col, "fingerprint")
        .agg(F.min(F.md5(F.col("s"))).alias("min_window_hash"))
        .select(id_col, "fingerprint", "min_window_hash")
    )
    return Table.from_df(out, name=f"{table.table_name}_fingerprint")


def chunk_documents(
    table: Table,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> Table:
    """Split documents into fixed-size token windows (the standard
    pre-training/RAG chunking step): one output row per chunk, with its
    ordinal and token count. ``overlap`` tokens are shared between
    consecutive chunks.

    Pure narrow plan — tokenize, ``sequence`` of window starts,
    ``posexplode``, ``slice`` + ``array_join`` — no UDF, no shuffle: at
    100 TB this is scan-speed row amplification, and the chunk rows
    inherit the input partitioning (downstream tokenize/pack stages
    consume them without a reshuffle).

    Window starts only run while ``start <= max(len - overlap, 1)``: a
    start inside the previous chunk's overlap region would emit a chunk
    whose tokens are all already covered by that chunk (e.g. 13 tokens,
    chunk 16 / overlap 4 → a second "chunk" of just token 13), silently
    duplicating content into downstream training/RAG data.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    # CJK-aware: Han/kana chars are their own tokens, so CJK docs chunk
    # at char granularity instead of one chunk per paragraph
    toks = _aware_tokens(text_col)
    df = table.df.select(F.col(id_col), toks.alias("__toks__")).where(
        F.size("__toks__") > 0
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks__") - F.lit(overlap), F.lit(1)),
        F.lit(step),
    )
    out = (
        df.select(
            F.col(id_col),
            F.col("__toks__"),
            F.posexplode(starts).alias("chunk_id", "__start__"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.array_join(
                F.slice("__toks__", F.col("__start__"), chunk_tokens), " "
            ).alias("chunk_text"),
            F.size(F.slice("__toks__", F.col("__start__"), chunk_tokens)).alias(
                "n_chunk_tokens"
            ),
        )
    )
    return Table.from_df(out, name=f"{table.table_name}_chunks")


# PII patterns shared by the Spark path and the DuckDB oracle: plain
# character classes / bounded quantifiers only, so Java regex and RE2
# agree. Order matters — SSN before the looser phone pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(table: Table, text_col: str, id_col: str) -> Table:
    """Redact common PII shapes (emails, SSNs, IPv4s, phone runs) and
    count redactions per category — the corpus-hygiene pass every
    training pipeline runs before anything else sees the text.

    Chained native ``regexp_replace`` — whole-stage codegen, no UDF.
    Each category is counted against the text AFTER the earlier
    patterns' replacements, so ``n_<cat>`` equals the number of
    ``<CAT>`` redactions that category actually performed: an SSN that
    would also match the looser phone pattern is already ``<SSN>`` by
    the time phones are counted, so it is not double-counted.
    """
    text = F.col(text_col).cast("string")
    clean = text
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(clean, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        clean = F.regexp_replace(clean, pat, repl)
    out = table.df.select(F.col(id_col), clean.alias("clean_text"), *counts)
    return Table.from_df(out, name=f"{table.table_name}_scrubbed")


def pack_sequences(
    table: Table,
    text_col: str,
    id_col: str,
    budget_tokens: int = 2048,
    n_shards: int = 16,
    salt: str = "",
    weight_col: str | None = None,
) -> Table:
    """Assign documents to fixed-token-budget packs — the chunk→pack
    step that turns a curated corpus into training-ready context
    windows. Each doc gets (shard, pack) coordinates plus its token
    offset inside the pack.

    Strategy: offset binning over a deterministic per-shard token
    stream. Docs are sharded by md5(id || salt) (re-shard-stable, same
    discipline as sampling.py), ordered by id within the shard, and a
    doc belongs to the pack where its first token lands
    (``floor(start_offset / budget)``). A pack may overflow by at most
    one document's tokens (assignment-at-start, straddling allowed) —
    the standard best-effort packing used when exact greedy reset
    semantics (which need sequential recursion) aren't worth a
    non-relational pass. Properties: every doc assigned exactly once;
    docs in a pack are contiguous in id order; pack token totals are
    < budget + max-doc-tokens.

    Scale: one shuffle (by shard) + per-shard window cumsum — shards
    are independent, so parallelism is ``n_shards``-wide and no global
    sort or single-partition window exists. Raise ``n_shards`` with the
    corpus (shard ≈ a few hundred MB of tokens). Fully native (no UDF)
    and engine-portable, so the DuckDB oracle replays it exactly.

    ``weight_col`` swaps the whitespace token count for a precomputed
    per-doc size — e.g. ``apply_bpe``'s ``n_bpe_tokens``, so packs are
    budgeted in REAL tokenizer tokens (NULL weights count as 0, like
    NULL text).
    """
    from pyspark.sql import Window

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    from .sampling import hash_bucket

    shard = F.pmod(hash_bucket(F.col(id_col), salt), F.lit(n_shards)).cast("int")
    # NULL text must count as 0 tokens, not NULL/-1 (size-of-null), or
    # the per-shard cumsum would corrupt every later doc's pack/offset.
    if weight_col is not None:
        n_tokens = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    else:
        safe_text = F.coalesce(F.col(text_col), F.lit(""))
        # CJK-aware count so pack budgets hold for unsegmented scripts
        n_tokens = F.size(_aware_tokens(safe_text))  # int, gated schema
    df = table.df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        shard.alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("__end__", F.sum("n_tokens").over(w))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("shard"),
            (
                (F.col("__end__") - F.col("n_tokens")) / F.lit(budget_tokens)
            ).cast("long").alias("pack"),
            F.pmod(
                F.col("__end__") - F.col("n_tokens"), F.lit(budget_tokens)
            ).alias("pack_offset"),
        )
    )
    return Table.from_df(out, name=f"{table.table_name}_packed")




# The benchmark side of a contamination check is broadcast to every
# executor, so it must be eval-set-sized, not corpus-sized. 4M distinct
# 8-grams x ~50-100 B of string is a ~200-400 MB broadcast — already at
# the edge of sane. The cap turns a silently-mis-sided call (bench and
# corpus swapped, or a corpus-scale "bench") into an immediate,
# actionable error instead of an executor OOM at scale — same contract
# as similarity.MAX_QUERY_VECTORS.
MAX_BENCH_NGRAMS = 4_000_000


def contamination_check(
    corpus: Table,
    bench: Table,
    corpus_id: str,
    bench_id: str,
    corpus_text: str = "text",
    bench_text: str = "text",
    n: int = 8,
    max_bench_ngrams: int | None = MAX_BENCH_NGRAMS,
) -> Table:
    """Benchmark decontamination: for every evaluation document, the
    fraction of its word ``n``-grams that appear anywhere in the training
    corpus — the standard train/test overlap check run before an eval
    set is trusted. One row per benchmark doc: ``n_ngrams``,
    ``n_contaminated``, ``contamination``.

    Scale plan (corpus >> benchmark, the production shape): the
    benchmark's distinct n-grams are broadcast, and the corpus side is a
    broadcast LEFT-SEMI filter at scan speed — the corpus's own
    (enormous) shingle set is never distinct-ed or shuffled; only the
    matched n-grams (bounded by the benchmark's n-gram count) come back
    for the final small join. The join key is the raw n-gram string —
    exact (no hash-collision caveat) and measured no slower than
    hashing, since the narrow shingle scan dominates. Shingling is the
    shuffle-free ``_ngram_rows`` form, codegen end-to-end: the whole
    corpus side is one narrow scan stage.

    Contract: benchmark rows must be unique in the id column — the
    per-doc gram sets are built in-row, so a duplicated id counts each
    physical row separately (nothing collapses it corpus-wide).
    """
    # per-doc gram dedup happens IN-ROW (array_distinct) — same rows as
    # `.distinct()` over (id, gram) with unique ids, minus its exchange,
    # which this plan would otherwise pay TWICE (the guard/broadcast
    # branch and the final per-doc join both consume b_sh)
    b_sh = _ngram_rows(
        bench.df.select(bench_id, bench_text), bench_id, bench_text, n,
        per_doc_distinct=True,
    ).select(F.col(bench_id), F.col("s").alias("h"))
    bench_hashes = b_sh.select("h").distinct()
    if max_bench_ngrams is not None:
        # bounded probe (limit(cap+1), not a full count) over the small
        # side only; the corpus side is never touched by the guard.
        # persist first so the guard job materializes the same set the
        # broadcast reuses (size bounded by the cap) instead of
        # computing the bench shingles twice
        with scoped_persist("contamination_check") as scope:
            bench_hashes = scope.persist(
                bench_hashes, StorageLevel.MEMORY_AND_DISK
            )
            probed = bench_hashes.limit(max_bench_ngrams + 1).count()
            if probed > max_bench_ngrams:
                raise ValueError(
                    f"contamination_check: benchmark side has more than "
                    f"{max_bench_ngrams} distinct {n}-grams — too large to "
                    "broadcast. The bench side must be the (small) eval "
                    "set; check the argument order, shrink the eval set, "
                    "or raise max_bench_ngrams explicitly if the cluster "
                    "can hold the broadcast."
                )
            # survives the call (the broadcast + final join read it);
            # released on the operator's next call (guide §5)
            scope.keep(bench_hashes)
    c_sh = _ngram_rows(
        corpus.df.select(corpus_id, corpus_text), corpus_id, corpus_text, n
    ).select(F.col("s").alias("h"))
    hit_hashes = (
        c_sh.join(F.broadcast(bench_hashes), on="h", how="left_semi")
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    out = (
        b_sh.join(hit_hashes, on="h", how="left")
        .groupBy(bench_id)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("__hit__").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.col("n_contaminated").cast("double") / F.col("n_ngrams"),
        )
    )
    return Table.from_df(out, name=f"{bench.table_name}_contamination")


def repetition_score(
    table: Table, text_col: str, id_col: str, n: int = 5
) -> Table:
    """Intra-document repetition: the fraction of word ``n``-gram
    windows that are duplicates of an earlier window (the Gopher-style
    repetition quality signal — boilerplate and looped generations
    score high).

    Native: total windows from the token count, distinct windows from
    the deduplicated shingle array — a pure projection, no shuffle.
    """
    # materialize the token array ONCE: referencing the tokenizer
    # expression inside the per-window lambda would re-run the regex
    # split per window (O(windows x tokens) regex work — measured 10x
    # slower); against a column reference each window is a cheap slice
    toked = table.df.select(F.col(id_col), _tokens(text_col).alias("__tk__"))
    tk = F.col("__tk__")
    total = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0))
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(tk, i, n), " "),
    )
    distinct = F.when(total > 0, F.size(F.array_distinct(windows))).otherwise(
        F.lit(0)
    )
    frac = F.when(
        total > 0, (total - distinct).cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    out = toked.select(
        F.col(id_col),
        total.alias("n_windows"),
        distinct.alias("n_distinct_windows"),
        frac.alias("dup_window_frac"),
    )
    return Table.from_df(out, name=f"{table.table_name}_repetition")


def unigram_logprob(
    table: Table,
    text_col: str,
    id_col: str,
    alpha: float = 0.5,
    vocab_size: int | None = None,
    train_table: Table | None = None,
) -> Table:
    """LM-quality proxy (CCNet-style): mean token log-probability under
    a unigram model of ``train_table`` (default: the corpus itself) —
    (id, n_tokens, logprob_per_token); perplexity = exp(-score).
    Low-scoring documents are gibberish/boilerplate candidates, the
    standard cheap stand-in for KenLM perplexity filtering.

    ``vocab_size`` caps the model to the top-V tokens (count desc, token
    asc — a total order); out-of-vocabulary tokens score ``alpha / N``
    (N = TOTAL training tokens, counted before the cap). Empty documents
    emit no row.

    Scale shape (100 TB): token explode is narrow; the frequency build
    is one map-side-combined shuffle on the token; the vocab cap is a
    bounded TakeOrdered (V rows, never a full sort); scoring joins token
    rows to the (≤V row) model — AQE broadcasts it for any realistic V —
    and re-aggregates per doc. N is a single-row-aggregate collect (one
    narrow scan-and-sum job at call time, the repo's accepted scalar
    pattern) folded in as a literal — a scalar cross join would put a
    BroadcastNestedLoopJoin + single-partition exchange in every score
    plan."""
    df = table._require_df()
    tok = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("__w__"))
    tdf = df if train_table is None else train_table._require_df()
    ttok = tdf.select(F.explode(_tokens(text_col)).alias("__w__"))
    # persist the unigram table and take N = sum of its counts (exactly
    # the training token total, integer-identical to summing per-doc
    # sizes): the N collect then folds into the model-build job instead
    # of paying a second full corpus tokenize scan, and the scoring
    # joins below reuse the cached model instead of re-running the
    # frequency shuffle (guide §1.2 — was: one dedicated corpus scan
    # for N plus a recomputed aggregation in the score job).
    with scoped_persist("unigram_logprob") as scope:
        freq_all = scope.persist(
            ttok.groupBy("__w__").agg(F.count(F.lit(1)).alias("__c__")),
            StorageLevel.MEMORY_AND_DISK,
        )
        n_total = freq_all.agg(F.sum("__c__").alias("n")).collect()[0]["n"]
        # cache lifecycle: the scoring join below reads this cache when
        # the caller materializes, so it must survive the call — the
        # registry releases it on the operator's NEXT call (guide §5)
        scope.keep(freq_all)
    freq = freq_all
    if vocab_size is not None:
        freq = freq_all.orderBy(
            F.col("__c__").desc(), F.col("__w__").asc()
        ).limit(int(vocab_size))
    scored = tok.join(freq, on="__w__", how="left")
    logp = F.log(
        F.coalesce(F.col("__c__").cast("double"), F.lit(float(alpha)))
        / F.lit(float(n_total or 0) or float("nan"))
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(logp).alias("logprob_per_token"),
    )
    return Table.from_df(out, name=f"{table.table_name}_logprob")


def bigram_logprob(
    table: Table,
    text_col: str,
    id_col: str,
    alpha: float = 0.4,
    oov: float = 0.5,
    model_size: int | None = None,
    train_table: Table | None = None,
) -> Table:
    """Stupid-backoff bigram LM score (Brants et al. 2007, the
    web-scale formulation: no normalization, a fixed backoff weight) —
    the next quality-filter rung above ``unigram_logprob``, catching
    shuffled/templated word salad that unigram statistics cannot:

        P(w2 | w1) = c(w1 w2) / c(w1)          when the bigram is known
                   = alpha * c(w2) / N          otherwise (backoff)
                   = alpha * oov / N            when w2 itself is unseen

    Output ``(id, n_bigrams, logprob_per_bigram)``; documents with
    fewer than two tokens emit no row. ``model_size`` caps the bigram
    model to the top-V pairs (count desc, then (w1, w2) asc — a total
    order), forcing the backoff path on rare pairs; the unigram
    backoff model is never capped.

    Scale shape (100 TB): bigrams derive from one narrow
    ``transform(sequence(...))`` projection (no window, no second
    tokenize); the model build is one (w1,w2)-key map-combined
    shuffle plus the unigram shuffle ``unigram_logprob`` already pays;
    the cap is a bounded TakeOrdered. Scoring joins doc bigrams to the
    model on (w1,w2) and to the unigram table twice (w1 context, w2
    backoff) — plain hash joins AQE broadcasts when the model is
    small; per-doc re-aggregation is the final shuffle. N is the same
    single-row-aggregate scalar fold ``unigram_logprob`` documents."""
    df = table._require_df()
    tdf = df if train_table is None else train_table._require_df()

    def _bigrams(src, with_id: bool):
        cols = [F.col(id_col)] if with_id else []
        tk = src.select(*cols, _tokens(text_col).alias("__tk__")).where(
            F.size("__tk__") >= 2
        )
        pairs = F.expr(
            "transform(sequence(1, size(__tk__) - 1), "
            "i -> struct(__tk__[i - 1] AS w1, __tk__[i] AS w2))"
        )
        return tk.select(*cols, F.explode(pairs).alias("__bg__")).select(
            *cols, F.col("__bg__.w1").alias("__w1__"),
            F.col("__bg__.w2").alias("__w2__"),
        )

    # tokenize the TRAINING corpus once: the unigram and bigram model
    # builds both read one cached token-array frame instead of each
    # re-running the regex split over the corpus (guide §1.2 — the
    # tokenize is the measured majority of each model pass). The cache
    # holds only the token arrays, no other columns.
    with scoped_persist("bigram_logprob") as scope:
        ttok = scope.persist(
            tdf.select(_tokens(text_col).alias("__tk__")),
            StorageLevel.MEMORY_AND_DISK,
        )
        # persist the unigram table and take N = sum of its counts (the
        # exact training token total): the N collect folds into the unigram
        # build instead of a second full corpus tokenize scan, and the two
        # scoring joins below reuse the cached model (guide §1.2).
        uni = scope.persist(
            ttok.select(F.explode("__tk__").alias("__w__"))
            .groupBy("__w__")
            .agg(F.count(F.lit(1)).alias("__cu__")),
            StorageLevel.MEMORY_AND_DISK,
        )
        tpairs = F.expr(
            "transform(sequence(1, size(__tk__) - 1), "
            "i -> struct(__tk__[i - 1] AS w1, __tk__[i] AS w2))"
        )
        big = scope.persist(
            ttok.where(F.size("__tk__") >= 2)
            .select(F.explode(tpairs).alias("__bg__"))
            .select(
                F.col("__bg__.w1").alias("__w1__"),
                F.col("__bg__.w2").alias("__w2__"),
            )
            .groupBy("__w1__", "__w2__")
            .agg(F.count(F.lit(1)).alias("__c2__")),
            StorageLevel.MEMORY_AND_DISK,
        )
        # ONE fused fill: a union of the two models' one-row aggregates
        # executes both model builds in a single query, returning N while
        # filling BOTH caches — so the tokenized-corpus cache (a full copy
        # of the training text) is released when this scope exits instead
        # of living for the session; the vocab-bounded model caches are
        # what survive, owned by the registry (guide §1.2 scan fusion + §5
        # memory hygiene). Rows are keyed, not positional, so the union's
        # partition order can never misattribute the scalars.
        fill = dict(
            uni.agg(F.lit(0).alias("k"), F.sum("__cu__").alias("n"))
            .unionAll(
                big.agg(
                    F.lit(1).alias("k"), F.count(F.lit(1)).cast("bigint").alias("n")
                )
            )
            .collect()
        )
        n_total = fill.get(0)
        scope.keep(uni, big)
    if model_size is not None:
        big = big.orderBy(
            F.col("__c2__").desc(), F.col("__w1__").asc(), F.col("__w2__").asc()
        ).limit(int(model_size))
    doc = _bigrams(df, with_id=True)
    scored = (
        doc.join(big, on=["__w1__", "__w2__"], how="left")
        .join(
            uni.select(
                F.col("__w__").alias("__w1__"), F.col("__cu__").alias("__c1__")
            ),
            on="__w1__",
            how="left",
        )
        .join(
            uni.select(
                F.col("__w__").alias("__w2__"), F.col("__cu__").alias("__cw2__")
            ),
            on="__w2__",
            how="left",
        )
    )
    n_lit = F.lit(float(n_total or 0) or float("nan"))
    logp = F.log(
        F.when(
            F.col("__c2__").isNotNull(),
            F.col("__c2__").cast("double") / F.col("__c1__").cast("double"),
        ).otherwise(
            F.lit(float(alpha))
            * F.coalesce(F.col("__cw2__").cast("double"), F.lit(float(oov)))
            / n_lit
        )
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg(logp).alias("logprob_per_bigram"),
    )
    return Table.from_df(out, name=f"{table.table_name}_bigram_logprob")


def term_stats_table(table: Table, text_col: str, id_col: str) -> Table:
    """The corpus's retrieval statistics as a first-class durable Table
    — the asset that makes repeated tf-idf / BM25 queries and
    incremental batches stop re-scanning the corpus (the same
    stored-index asymmetry ``minhash_band_table`` exploits for dedup).

    Schema: one row per distinct term ``(term, df)`` (``df`` = number
    of distinct documents containing the term) plus EXACTLY ONE
    corpus-scalar row with ``term IS NULL`` carrying ``n_docs`` (D) and
    ``total_tokens`` (Σ document lengths, for avgdl). Tokens are never
    NULL (they are non-empty strings by construction), so the NULL-term
    row is unambiguous. Build ONCE over the settled corpus,
    ``parquet_export`` it, and pass the re-imported table to
    ``tfidf_top_terms(..., against_stats=)`` / ``bm25_topk(...,
    against_stats=)`` — the corpus text is never re-tokenized again.

    Scale shape: ONE corpus tokenize pass and ONE vocab-keyed shuffle
    with map-side combine. A document's repeated terms all live inside
    its own row, so the per-doc term SET is built in-row
    (``array_distinct``, no corpus-wide ``(id, term) distinct``
    exchange — the ngram_jaccard_pairs restructure, guide §2.4), and
    the corpus scalars ride the SAME aggregation as a per-doc NULL-term
    marker row (one marker per document carrying its token count, so
    the NULL group's count/sum ARE n_docs/total_tokens) instead of a
    second tokenize scan. Rows per document must be unique in
    ``id_col`` (every caller's contract — df counts documents).
    Output size is vocabulary-bounded, not corpus-bounded."""
    df = table._require_df()
    tok = df.select(_tokens(text_col).alias("__tk__"))
    rows = tok.select(
        F.greatest(F.size("__tk__"), F.lit(0)).alias("__dl__"),
        F.explode(
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.coalesce(
                    F.array_distinct("__tk__"),
                    F.array().cast("array<string>"),
                ),
            )
        ).alias("term"),
    )
    agg = rows.groupBy("term").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum("__dl__").alias("__t__"),
    )
    out = agg.select(
        "term",
        F.when(F.col("term").isNotNull(), F.col("__n__")).alias("df"),
        F.when(F.col("term").isNull(), F.col("__n__")).alias("n_docs"),
        F.when(F.col("term").isNull(), F.col("__t__")).alias("total_tokens"),
    )
    return Table.from_df(out, name=f"{table.table_name}_term_stats")


def fold_term_stats(stats: Table) -> Table:
    """Fold a UNION of ``term_stats_table`` results — e.g. the
    per-batch partitioned parquet an ingest sink maintains
    (``stats_path=``), read back with one ``parquet_import`` — into a
    single logical stats table (one row per term, one scalar row).

    Correct because the statistics are additive over batches with
    DISJOINT documents (exactly what per-batch ``batch_id=``
    partitions of deduped survivors are): docfreq sums, D sums, total
    tokens sums. Feeding overlapping corpora double-counts — fold is
    for the partitioned-asset layout, not arbitrary unions.

    Scale shape: one vocab-keyed aggregation with map-side combine
    plus a single-row aggregate — both over the (vocab-bounded) stats
    rows, never the corpus."""
    for c in ("term", "df", "n_docs", "total_tokens"):
        if c not in stats.fields:
            raise ValueError(
                "fold_term_stats needs a union of term_stats_table "
                f"results (missing column {c!r}); got {stats.fields}"
            )
    df = stats.df
    terms = (
        df.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .select(
            "term",
            "df",
            F.lit(None).cast("bigint").alias("n_docs"),
            F.lit(None).cast("bigint").alias("total_tokens"),
        )
    )
    scalars = df.where(F.col("term").isNull()).agg(
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("bigint").alias("df"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
    )
    return Table.from_df(
        terms.unionByName(scalars), name=f"{stats.table_name}_folded"
    )


def _load_term_scalars(stats: Table) -> tuple[float, float]:
    """Collect the NULL-term corpus-scalar row of a term_stats_table:
    (n_docs, total_tokens). One job over a vocab-bounded table whose
    term-IS-NULL filter is pushed to the parquet scan."""
    for c in ("term", "df", "n_docs", "total_tokens"):
        if c not in stats.fields:
            raise ValueError(
                "against_stats must be a term_stats_table result "
                f"(missing column {c!r}); got {stats.fields}"
            )
    rows = stats.df.where(F.col("term").isNull()).collect()
    if len(rows) != 1:
        raise ValueError(
            f"against_stats has {len(rows)} corpus-scalar rows (term IS "
            "NULL); exactly one expected — not a term_stats_table result?"
        )
    return float(rows[0]["n_docs"] or 0), float(rows[0]["total_tokens"] or 0)


def tfidf_top_terms(
    table: Table,
    text_col: str,
    id_col: str,
    k: int = 5,
    against_stats: Table | None = None,
) -> Table:
    """Per-document top-k terms by tf-idf — (id, term, tf, df, tfidf,
    term_rank) — the standard keyword-extraction / topic-surfacing pass.
    tf = in-doc count, idf = ln(D / df) with D = corpus size; rank order
    (tfidf desc, term asc) is total, so results are engine-independent.

    ``against_stats`` (a ``term_stats_table`` result, typically parquet-
    re-imported) switches to the INCREMENTAL retrieval shape: tf still
    comes from ``table`` (the new batch / query set), but df and D come
    from the STORED corpus statistics — the batch is scored against the
    settled corpus without re-tokenizing it. A batch term absent from
    the stored vocabulary reports ``df = 0`` and scores with
    ``idf = ln(D / max(df, 1))`` — i.e. maximal distinctiveness, the
    natural reading for a never-seen term (self mode always has df >= 1,
    so the two modes agree on every term the corpus has seen).

    Scale shape: one shuffle aggregates (doc, term) counts (map-side
    combine collapses repeats), document frequency reuses that table
    with a second narrow-key aggregation (or, with ``against_stats``,
    one vocab-bounded equi-join against the stored table — the corpus
    is never scanned), D is the handle's (cached) row count folded in
    as a literal, and the top-k per doc is a keyed window — bounded per
    group, no global sort."""
    from pyspark.sql import Window

    df = table._require_df()
    tok = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if against_stats is not None:
        d_count, _ = _load_term_scalars(against_stats)
        if d_count <= 0:
            raise ValueError("against_stats corpus has no documents")
        stored = against_stats.df.where(F.col("term").isNotNull()).select(
            "term", "df"
        )
        docfreq_joined = tf.join(stored, on="term", how="left").withColumn(
            "df", F.coalesce(F.col("df"), F.lit(0).cast("bigint"))
        )
    else:
        # two consumers of the (doc, term) aggregate — the scored rows
        # and the docfreq reduction — would each re-run the tokenize +
        # explode + first shuffle without a persist (AQE's runtime
        # stage reuse does not always dedupe the broadcast-side copy);
        # the cached frame is (doc, distinct-term)-bounded (guide §1.2)
        # the returned plan reads it: kept until the next call (guide §5)
        with scoped_persist("tfidf_top_terms") as scope:
            scope.keep(scope.persist(tf, StorageLevel.MEMORY_AND_DISK))
        d_count = float(len(table))
        docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        docfreq_joined = tf.join(docfreq, on="term")
    scored = docfreq_joined.withColumn(
        "tfidf",
        F.col("tf").cast("double")
        * F.log(F.lit(d_count) / F.greatest(F.col("df"), F.lit(1))),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    out = (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "term_rank")
    )
    return Table.from_df(out, name=f"{table.table_name}_tfidf")


def bm25_topk(
    table: Table,
    text_col: str,
    id_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
    against_stats: Table | None = None,
) -> Table:
    """Okapi BM25 relevance of every document to a query string, top-k —
    (id, score, rank). The standard retrieval scorer for corpus work
    (finding near-matches of an eval prompt, quality-by-query probes,
    retrieval-based decontamination triage) with document-length
    normalization that plain tf-idf lacks.

    idf = ln(1 + (D - df + 0.5)/(df + 0.5)); per-term contribution
    tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). Scores are rounded to 6
    decimals BEFORE ranking and tie-broken by id, so the rank order is
    total and engine-portable (unrounded IEEE sums can differ in the
    last ulp across engines and would flip near-ties under limit).

    ``against_stats`` (a ``term_stats_table`` result) switches to the
    stored-statistics retrieval shape: df, D and avgdl come from the
    durable corpus-stats table (its NULL-term scalar row + a query-term
    filter over its vocab rows — both pushed-down, corpus never
    scanned); tf and dl still come from ``table``, the documents being
    ranked. With stats built from the SAME corpus the scores are
    identical to self mode (BM25's idf handles df = 0 natively), so
    repeated queries against a settled corpus pay one tiny stats probe
    instead of a corpus length-scan per call.

    Scale shape (100 TB): the corpus scan filters to query terms BEFORE
    any aggregation (a handful of terms — the filter prunes ~everything
    at scan speed); per-doc lengths are a narrow projection; D and avgdl
    are single-row-aggregate scalars folded in as literals; the top-k is
    a TakeOrdered, never a global sort."""
    terms = sorted({w for w in (query or "").strip().split() if w})
    if not terms:
        raise ValueError("bm25_topk: query has no tokens")
    df = table._require_df()
    df_map = None
    if against_stats is not None:
        # ONE collect fetches the corpus-scalar row AND the query-term
        # vocab rows together (both filters pushed to the stats scan) —
        # measured: two separate tiny jobs added ~0.3s of pure job
        # latency to an otherwise sub-second probe
        for c in ("term", "df", "n_docs", "total_tokens"):
            if c not in against_stats.fields:
                raise ValueError(
                    "against_stats must be a term_stats_table result "
                    f"(missing column {c!r}); got {against_stats.fields}"
                )
        rows = against_stats.df.where(
            F.col("term").isNull() | F.col("term").isin(terms)
        ).collect()
        scalar = [r for r in rows if r["term"] is None]
        if len(scalar) != 1:
            raise ValueError(
                f"against_stats has {len(scalar)} corpus-scalar rows (term "
                "IS NULL); exactly one expected — not a term_stats_table "
                "result?"
            )
        d_count = float(scalar[0]["n_docs"] or 0)
        if d_count <= 0:
            raise ValueError("against_stats corpus has no documents")
        avgdl = float(scalar[0]["total_tokens"] or 0) / d_count
        df_map = {
            r["term"]: float(r["df"]) for r in rows if r["term"] is not None
        }
    else:
        # ONE fused scalar job for D and Σdl (was: a count job via
        # len(table) plus a separate token-sum scan — two full corpus
        # passes for two scalars; guide §1.2)
        srow = df.agg(
            F.count(F.lit(1)).alias("d"),
            F.sum(F.greatest(F.size(_tokens(text_col)), F.lit(0))).alias("n"),
        ).collect()[0]
        d_count = float(srow["d"])
        avgdl = float(srow["n"] or 0) / d_count if d_count else 0.0
    if avgdl <= 0:
        raise ValueError("bm25_topk: corpus has no tokens")
    toked = df.select(
        F.col(id_col),
        _tokens(text_col).alias("__tk__"),
    ).select(
        F.col(id_col),
        F.size("__tk__").cast("double").alias("__dl__"),
        F.explode("__tk__").alias("__w__"),
    ).where(F.col("__w__").isin(terms))
    tf = toked.groupBy(id_col, "__w__").agg(
        F.count(F.lit(1)).cast("double").alias("__tf__"),
        F.first("__dl__").alias("__dl__"),
    )
    if df_map is not None:
        # fold the stored per-term df back in as a literal lookup table
        # (<= len(terms) rows), so the downstream inner join is against
        # a local-relation broadcast. Terms absent from the stored
        # vocab get df = 0, which BM25's idf handles natively
        # (idf = ln(1 + (D + 0.5)/0.5)) — an unseen query term still
        # ranks the docs that contain it.
        docfreq = small_df(
            table.spark,
            [(t, df_map.get(t, 0.0)) for t in terms],
            "`__w__` string, `__df__` double",
        )
    else:
        docfreq = tf.groupBy("__w__").agg(
            F.count(F.lit(1)).cast("double").alias("__df__")
        )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(d_count) - F.col("__df__") + F.lit(0.5))
        / (F.col("__df__") + F.lit(0.5))
    )
    denom = F.col("__tf__") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl__") / F.lit(avgdl)
    )
    contrib = idf * F.col("__tf__") * F.lit(k1 + 1.0) / denom
    scored = (
        tf.join(docfreq, on="__w__")
        .withColumn("__c__", contrib)
        .groupBy(id_col)
        .agg(F.round(F.sum("__c__"), 6).alias("score"))
    )
    from ..plans.ordering import dense_index

    top = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(int(k))
    # rank over the <= k surviving rows via the distributed sequence
    # (no global single-partition window — lint-clean, and the pattern
    # stays correct if k is ever large)
    out = dense_index(
        top, [F.col("score").desc(), F.col(id_col).asc()], out_col="rank"
    ).withColumn("rank", (F.col("rank") + F.lit(1)).cast("int"))
    return Table.from_df(
        out.select(id_col, "score", "rank"), name=f"{table.table_name}_bm25"
    )
