"""Text-analysis operators for training-data pipelines.

All column builders are pure ``pyspark.sql.functions`` expressions —
JVM-side, codegen'd, no UDFs — so they run at scan speed over 100 TB
of documents. Each has an exact DuckDB-SQL twin in
``registry/llm_q.py`` for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenization: word runs or single non-space symbols (ASCII
# \w in both Java regex and RE2, so Spark and DuckDB agree).
BPE_TOKEN_RE = r"\w+|[^\w\s]"

# Minimal per-language stopword evidence for the n-gram/stopword
# language-ID heuristic. Scores are plain token-match counts.
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "es", "y"),
    "de": ("der", "die", "das", "und", "ist"),
}
CJK_RANGE_RE = r"[\x{4e00}-\x{9fff}]"


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"[\t\n\f\r ]+")).cast("long")


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast(
        "long"
    )


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def _stopword_count(text: Column, words: tuple[str, ...]) -> Column:
    pat = r"(?:^|\s)(?:" + "|".join(words) + r")(?:\s|$)"
    # Non-overlapping matches undercount adjacent stopwords the same
    # way in both engines (same regex, same semantics) — fine for a
    # heuristic score.
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Heuristic quality signals: length, word stats, punctuation /
    stopword / alpha ratios. Deterministic doubles (single IEEE
    expression per value — no engine-dependent rounding)."""
    n_chars = char_count(text)
    words = F.split(F.trim(text), r"[\t\n\f\r ]+")
    n_words = F.size(words).cast("long")
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]"), 0))
    n_stop = _stopword_count(text, LANG_STOPWORDS["en"])
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "avg_word_len": (n_chars - (n_words - 1)) / n_words.cast("double"),
        "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
        "alpha_ratio": n_alpha.cast("double") / n_chars.cast("double"),
        "stopword_ratio": n_stop.cast("double") / n_words.cast("double"),
    }


def language_id_col(text: Column) -> Column:
    """Stopword/charset language guess over {en,fr,es,de,zh}.

    CJK character presence dominates; otherwise the max stopword count
    wins with a fixed preference order for ties (deterministic)."""
    scores = {
        lang: _stopword_count(text, words)
        for lang, words in LANG_STOPWORDS.items()
    }
    n_cjk = F.size(F.regexp_extract_all(text, F.lit(CJK_RANGE_RE), 0))
    best = F.greatest(*scores.values())
    guess = F.lit("unknown")
    # reversed so earlier langs win ties (chained when(): first match)
    for lang in reversed(list(LANG_STOPWORDS)):
        guess = F.when(
            (best > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(guess)
    return F.when(n_cjk * 4 > char_count(text), F.lit("zh")).otherwise(guess)


def fingerprint_md5(text: Column) -> Column:
    """Canonical document fingerprint: md5 of the lowercased,
    whitespace-collapsed text — the exact-dedup / caching key."""
    canon = F.regexp_replace(F.lower(F.trim(text)), r"[\t\n\f\r ]+", " ")
    return F.md5(F.encode(canon, "UTF-8"))


def word_chunks(text: Column, size: int = 40, stride: int = 20) -> Column:
    """Overlapping word-window chunks — the context-window splitter a
    pretraining pipeline runs over every document. Pure HOFs
    (split → sequence → transform → slice): codegen'd, no UDF, and the
    per-row output is bounded by the document length, so it scales as
    a flat map over the corpus.

    Returns ``array<string>``; chunk ``i`` covers words
    ``[i*stride, i*stride+size)`` (last chunks may be short)."""
    w = F.split(F.trim(text), r"[\t\n\f\r ]+")
    n = F.size(w)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    return F.transform(
        starts, lambda s: F.array_join(F.slice(w, s, size), " ")
    )


def word_ngram_keys(text: Column, n: int = 8) -> Column:
    """Distinct-ready word n-gram keys (xxhash64 of the joined
    lowercase n-gram) — the unit of benchmark-contamination checks.
    An 8-byte JVM hash, not an md5 hex string: the key never leaves
    the engine, so it only has to be consistent within one run, and
    the narrow key halves the gram shuffle. Documents shorter than
    ``n`` words yield an empty array."""
    w = F.split(F.lower(F.trim(text)), r"[\t\n\f\r ]+")
    cnt = F.size(w)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(w, i, n), " ")),
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))


def word_hashes_col(text: Column) -> Column:
    """xxhash64 of every word (lowercased, whitespace-split) — the
    one-hash-per-word stage of the Rabin-Karp rolling fingerprint.
    Alias it in its OWN projection before feeding
    ``rolling_hash_from_words``: as a column reference the words are
    hashed once per document; inlined into the window lambda they
    would re-hash per window (O(n*w) hashing instead of O(n))."""
    return F.transform(
        F.split(F.lower(F.trim(text)), r"[\t\n\f\r ]+"), lambda t: F.xxhash64(t)
    )


def rolling_hash_from_words(wh: Column, window: int = 8) -> Column:
    """Rolling window fingerprints from a per-word hash array: each
    window's hash is an order-sensitive polynomial fold
    ``h = fold(a, x -> a*31 + x)`` over ``window`` word hashes —
    integer ops only, no per-window string building (the original
    xxhash64-of-joined-words shape spent its time re-concatenating
    8 words per position; measured 3.0s -> 0.9s for the hash stage
    at sf0.1)."""
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("long"),
        lambda a, x: a * F.lit(31).cast("long") + x,
    )
    n = F.size(wh)
    return F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: fold(F.slice(wh, i, window)),
        ),
    ).otherwise(F.array(fold(wh)))


# ---------------------------------------------------------------------------
# HTML main-content extraction (round-15, VERDICT r14 #8)
# ---------------------------------------------------------------------------
# The one common LLM-pipeline pre-step that had no operator: web-crawl
# ingest arrives as HTML; before any quality gate or dedup runs, the
# pipeline must strip tags/script/style, decode entities, and gate on
# the main-content-to-boilerplate ratio (trafilatura/jusText-style,
# reduced to its regex-expressible core so the whole stage stays
# JVM-side and DuckDB-replayable). The sandbox has no HTML corpus, so
# ``html_wrap_fixture_col`` derives one deterministically from the
# documents table — md5-variant nav menus, 0-2 script blocks, a style
# block, entity-bearing footer — exactly the clustered-embeddings
# fixture trick applied to text: fixture AND extraction replay
# bit-for-bit in SQL, so extraction correctness is hash-checked, not
# eyeballed.

# Three nav variants of different lengths so the boilerplate share
# (and therefore the gate) varies across documents.
HTML_NAVS = (
    "Home | About | Contact",
    "Index | Archive | Tags | Search | RSS feed",
    "Top",
)
HTML_FOOTER = "Copyright &amp; links &lt;here&gt; 2024"
HTML_SCRIPT = '<script type="text/javascript">var t=0;</script>'
HTML_STYLE = "<style>body{margin:0;padding:0}</style>"
_WS_RE = r"[\t\n\f\r ]+"


def html_variant_col(doc_id: Column) -> Column:
    """md5-derived template variant in {0,1,2}: picks the nav menu and
    doubles as the script-block count. Pure digest arithmetic — any
    engine regenerates it (DuckDB: ``('0x' || substr(md5(..), 1, 6))::
    BIGINT % 3``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hv:"), doc_id.cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        % 3
    )


def html_wrap_fixture_col(doc_id: Column, text: Column) -> Column:
    """Deterministic HTML-shaped document: title + style + variant
    script blocks + variant nav + the real text inside
    ``<div id="main">`` + an entity-bearing footer. One concat per
    row, no UDF — at 100 TB this fixture column IS the scan."""
    v = html_variant_col(doc_id)
    nav = (
        F.when(v == 0, F.lit(HTML_NAVS[0]))
        .when(v == 1, F.lit(HTML_NAVS[1]))
        .otherwise(F.lit(HTML_NAVS[2]))
    )
    return F.concat(
        F.lit("<html><head><title>Doc "),
        doc_id.cast("string"),
        F.lit("</title>" + HTML_STYLE),
        F.repeat(F.lit(HTML_SCRIPT), v.cast("int")),
        F.lit("</head><body><nav>"),
        nav,
        F.lit("</nav><div id=\"main\"><p>"),
        text,
        F.lit("</p></div><footer>" + HTML_FOOTER + "</footer></body></html>"),
    )


def _decode_entities(c: Column) -> Column:
    # &lt;/&gt; BEFORE &amp; so a literal "&amp;lt;" decodes to "&lt;"
    # (single pass), never to "<".
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.replace(c, F.lit("&quot;"), F.lit('"'))
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def html_to_text_col(html: Column) -> Column:
    """Tag-strip pipeline: drop script/style blocks (separate passes —
    RE2 in the DuckDB twin has no backreferences), strip remaining
    tags, decode the four core entities, collapse whitespace. All
    Java-regex constructs used ((?s), .*?, [^>]+) behave identically
    in RE2, so the oracle replays this bit-for-bit."""
    c = F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?s)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    c = _decode_entities(c)
    return F.trim(F.regexp_replace(c, _WS_RE, " "))


def html_main_text_col(html: Column) -> Column:
    """Main-content selector: the ``<div id="main">`` payload (the
    regex-expressible stand-in for a DOM main-content heuristic),
    then the same strip/decode/normalize pipeline."""
    return html_to_text_col(
        F.regexp_extract(html, r'(?s)<div id="main">(.*?)</div>', 1)
    )
