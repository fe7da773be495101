"""Text-analysis operators for large-corpus pipelines (beyond-reference
surface: language-ID, quality scoring, token counting, fingerprinting).

Everything is built-in Catalyst expressions (no UDFs) and every operator
has an exact ANSI-SQL twin runnable by DuckDB, so the driver's oracle can
hash-match values. Shared determinism rules:

  * tokenization = regex split on TOKEN_WS (an explicit whitespace
    class) with empty strings dropped — Java's \\s includes \\x0b while
    RE2's (DuckDB) does not, so the class is spelled out and the SAME
    pattern string feeds Spark `split` and DuckDB `string_split_regex`
    (neither engine's string literal eats the backslashes);
  * all hashes derive from md5 -> first 15 hex chars -> BIGINT (60-bit),
    the same construction as the `checksum_lineitem` registry entry
    (plans/queries.py);
  * ratios are single IEEE divisions of exact integer counts — bit-equal
    across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Order matters: ties resolve to the earlier language.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "dans"],
}


# One pattern string, two engines: Java and RE2 interpret this class
# identically (\x0b spelled explicitly — it is inside Java's \s but not
# RE2's), and both receive it verbatim.
TOKEN_WS = r"[ \t\n\r\f\x0b]+"


def tokens(col: Column) -> Column:
    # null-safe: Spark size(split(NULL)) is -1 while DuckDB len(NULL) is
    # NULL — the <=0 guards downstream would diverge; NULL text tokenizes
    # as empty on BOTH sides (SQL_TOKENS coalesces identically)
    return F.filter(
        F.split(F.coalesce(col, F.lit("")), TOKEN_WS), lambda x: x != ""
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


BPE_PRETOKEN_RE = (
    # GPT-2-style pre-tokenizer shape (public tokenizer regex family):
    # word | number run | punctuation run. This is the unit count a BPE
    # tokenizer's merge pass starts from — a far better LLM-token estimate
    # than whitespace splitting, and still a single JVM-side regexp (no
    # UDF). Whitespace is spelled as an explicit class because Java's \s
    # includes \x0B while RE2's (DuckDB) does not.
    r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]+"
)


def bpe_token_count(col: Column) -> Column:
    """Pre-token count under a BPE-style lexer: words, digit runs and
    punctuation runs each count separately (whitespace only separates)."""
    stripped = F.regexp_replace(col, BPE_PRETOKEN_RE, "")
    counted = F.regexp_replace(col, BPE_PRETOKEN_RE, "\x00")
    # number of matches = length delta of a sentinel substitution
    return (F.length(counted) - F.length(stripped)).cast("int")


def hash60(col: Column) -> Column:
    """60-bit md5-derived hash (cross-engine reproducible)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Number of tokens (with repeats) that are in `words`."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(F.lower(col)), lambda t: F.array_contains(arr, t)))


def lang_id(col: Column) -> Column:
    """Stopword-profile language ID; 'und' when nothing matches."""
    hits = {lang: stopword_hits(col, ws) for lang, ws in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build the CASE back-to-front so earlier languages win ties
    for lang in reversed(list(LANG_STOPWORDS)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: alpha ratio + mean-word-length window +
    stopword presence. Deterministic double arithmetic."""
    n_chars = F.length(col)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_tok = token_count(col)
    mean_wl = n_alpha.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    sw = stopword_hits(col, LANG_STOPWORDS["en"]).cast("double") / F.greatest(
        n_tok, F.lit(1)
    ).cast("double")
    wl_ok = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return alpha_ratio * 0.5 + wl_ok * 0.3 + F.least(sw * 5.0, F.lit(1.0)) * 0.2


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: lower-case, whitespace-collapsed,
    trimmed text -> 60-bit hash. The exact-dedup key for noisy corpora."""
    # null-safe: DuckDB concat() ignores NULL (md5 chain would yield
    # CAST('0x' ...) there but NULL here) — canonicalize NULL as ''
    canon = F.trim(
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), TOKEN_WS, " ")
    )
    return hash60(canon)


# ---------------------------------------------------------------------------
# ANSI-SQL twins (DuckDB)
# ---------------------------------------------------------------------------

SQL_TOKENS = (
    "list_filter(string_split_regex(coalesce({col}, ''), '"
    + TOKEN_WS
    + "'), x -> x != '')"
)


def sql_token_count(col: str) -> str:
    return f"len({SQL_TOKENS.format(col=col)})"


def sql_bpe_token_count(col: str) -> str:
    # same match-count-by-length-delta trick as the Spark side; the regex
    # is RE2/Java-identical (explicit whitespace class, see BPE_PRETOKEN_RE)
    return (
        f"CAST(length(regexp_replace({col}, '{BPE_PRETOKEN_RE}', '#', 'g')) "
        f"- length(regexp_replace({col}, '{BPE_PRETOKEN_RE}', '', 'g')) AS INT)"
    )


def sql_hash60(col: str) -> str:
    # '||' not concat(): DuckDB concat treats NULL as '' (yielding the
    # uncastable string '0x'), while || propagates NULL — matching
    # Spark's hash60(NULL) = NULL (the HLL phantom-register fold)
    return f"CAST(('0x' || substr(md5({col}), 1, 15)) AS BIGINT)"


def sql_stopword_hits(col: str, words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    toks = SQL_TOKENS.format(col=f"lower({col})")
    return f"len(list_filter({toks}, t -> list_contains({arr}, t)))"


def sql_lang_id(col: str) -> str:
    hits = {
        lang: sql_stopword_hits(col, ws) for lang, ws in LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    out = "'und'"
    for lang in reversed(list(LANG_STOPWORDS)):
        h = hits[lang]
        out = f"CASE WHEN {h} > 0 AND {h} = {best} THEN '{lang}' ELSE {out} END"
    return out


def sql_quality_score(col: str) -> str:
    n_chars = f"length({col})"
    n_alpha = f"length(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    n_tok = sql_token_count(col)
    mean_wl = f"(CAST({n_alpha} AS DOUBLE) / CAST(greatest({n_tok}, 1) AS DOUBLE))"
    alpha_ratio = f"(CAST({n_alpha} AS DOUBLE) / CAST(greatest({n_chars}, 1) AS DOUBLE))"
    sw = (
        f"(CAST({sql_stopword_hits(col, LANG_STOPWORDS['en'])} AS DOUBLE) "
        f"/ CAST(greatest({n_tok}, 1) AS DOUBLE))"
    )
    wl_ok = f"(CASE WHEN {mean_wl} >= 3.0 AND {mean_wl} <= 10.0 THEN 1.0 ELSE 0.0 END)"
    return (
        f"({alpha_ratio} * 0.5 + {wl_ok} * 0.3 + least({sw} * 5.0, 1.0) * 0.2)"
    )


def sql_fingerprint(col: str) -> str:
    canon = (
        f"trim(regexp_replace(lower(coalesce({col}, '')), "
        f"'{TOKEN_WS}', ' ', 'g'))"
    )
    return sql_hash60(canon)
