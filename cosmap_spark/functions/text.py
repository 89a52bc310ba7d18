"""Text-analysis column functions for LLM-data pipelines (SURVEY.md §2.4).

Whitespace tokenization, shingling, token statistics, quality scoring,
language-ID heuristics, and document fingerprints — all as JVM-side
expressions (split / higher-order functions / regexp), so they run inside
whole-stage codegen with no Python round-trip at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cosmap_spark.functions.sqlargs import require_int

#: tiny multilingual stopword lists for the language-ID heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "la", "de", "que", "los"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split — the corpus convention)."""
    return F.split(text, " ")


def n_tokens(text: Column) -> Column:
    """Count of non-whitespace runs (robust to repeated spaces)."""
    return F.regexp_count(text, F.lit(r"\S+")).cast("long")


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """k-gram shingles from an ALREADY-MATERIALIZED token-array column.

    Callers on a hot path should project the token array first
    (``withColumn("__toks", tokens(text))``) and shingle that: Spark does
    no common-subexpression elimination inside lambda functions, so
    referencing ``split(text)`` directly here re-splits the whole
    document for every ``element_at`` — O(k·n_shingles) full-text splits
    per row (measured 3-4× the runtime of the entire ngram-dedup job).

    Documents with fewer than ``k`` tokens yield an EMPTY array: the
    unguarded ``sequence(0, size-k)`` would descend (sequence's step
    defaults to -1 when stop < start) and element_at would then throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode — so the short-doc
    case is guarded explicitly, mirroring the ``CASE WHEN len >= k``
    guard in the DuckDB oracles.  ``k`` must be an int ≥ 1: at k ≤ 0
    every document's only shingle would be the empty gram, making every
    pair of documents a Jaccard-1.0 duplicate."""
    require_int("k", k)
    idx = F.sequence(F.lit(0), F.size(t) - k)
    cols = lambda i: [F.element_at(t, i + j + 1) for j in range(k)]  # noqa: E731
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *cols(i)))
    return F.when(F.size(t) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(toks: str, k: int) -> str:
    """:func:`shingles_from_tokens` as SQL text over the token-array
    column named by the SQL expression ``toks`` — the same grams, same
    short-document guard, built in one expression string instead of
    ~k+10 ``F.*`` calls (each one or more py4j round trips).  For
    operators whose whole plan is SQL text (``dedup._shingle_sets``)."""
    require_int("k", k)
    parts = ", ".join(f"element_at({toks}, i + {j + 1})" for j in range(k))
    return (
        f"CASE WHEN size({toks}) >= {k} "
        f"THEN transform(sequence(0, size({toks}) - {k}), "
        f"i -> concat_ws(' ', {parts})) "
        "ELSE CAST(array() AS array<string>) END"
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-gram word shingles as strings: ``tok[i] tok[i+1] … tok[i+k-1]``.

    Convenience form over a raw text column; prefer materializing the
    token array and calling :func:`shingles_from_tokens` in hot paths
    (see its docstring for the CSE pitfall)."""
    return shingles_from_tokens(tokens(text), k)


def stopword_count(text: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in ``words``."""
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda x: F.array_contains(lst, x))).cast("long")


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: penalize very short docs and
    degenerate token diversity (near-dup token spam)."""
    nt = n_tokens(text).cast("double")
    uniq = F.size(F.array_distinct(tokens(text))).cast("double")
    len_score = F.least(F.lit(1.0), nt / F.lit(50.0))
    diversity = uniq / F.greatest(nt, F.lit(1.0))
    return len_score * F.lit(0.5) + diversity * F.lit(0.5)


def strip_markup(text: Column) -> Column:
    """Drop HTML/XML-ish markup from scraped text: remove
    ``<script>``/``<style>`` blocks with their content, strip remaining
    tags, decode the half-dozen entities that dominate real corpora,
    collapse whitespace.  Pure JVM regexp passes — the cheap first
    filter a web-scrape pipeline runs on every document before any
    scoring or dedup (a real boilerplate extractor adds DOM heuristics;
    this is the regex-complete core of it).

    LINE STRUCTURE IS PRESERVED: horizontal whitespace runs collapse to
    one space and blank-line runs to one newline, but source newlines
    survive — so the line-level filters downstream (``c4_clean``)
    still see lines.  Markup itself never creates a line break."""
    no_blocks = F.regexp_replace(
        text, r"(?is)<(script|style)\b[^>]*>.*?</\1>", " "
    )
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]+>", " ")
    decoded = no_tags
    for ent, ch in (
        # &amp; decodes LAST (the standard order): decoding it first
        # would turn the escaped display form &amp;lt; into &lt; and
        # then into a literal '<' the source never contained
        ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    one_space = F.regexp_replace(decoded, r"[^\S\n]+", " ")
    one_newline = F.regexp_replace(one_space, r" ?\n[ \n]*", "\n")
    return F.trim(one_newline)


def chunk_text(
    df,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap: int = 32,
):
    """Split documents into overlapping token windows — the
    embedding/RAG chunking step: one row per chunk with
    ``(id_col, chunk_id, chunk_start, n_chunk_toks, chunk)``.

    Chunks start every ``chunk_tokens - overlap`` tokens, each spanning
    ``chunk_tokens``; every token lands in at least one chunk and
    consecutive chunks share ``overlap`` tokens.  All JVM higher-order
    functions (sequence → slice → concat) over ONE materialized token
    array per document — no Python, no shuffle; output size is
    input / (1 - overlap/chunk_tokens)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens; got {overlap}")
    step = chunk_tokens - overlap
    toks = F.col("__toks")
    n = F.size(toks)
    # last start = largest multiple of step that is < n (short docs: 0)
    last = F.greatest(
        F.floor((n - F.lit(1)) / step).cast("long") * step, F.lit(0)
    )
    # drop a trailing start that is pure overlap (fully inside the
    # previous chunk): start + chunk would begin past the text only
    # when the doc fits earlier chunks
    starts = F.filter(
        F.sequence(F.lit(0), last, F.lit(step)),
        lambda s: (s == 0) | (s + F.lit(overlap) < n),
    )
    out = (
        df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        )
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("chunk_start"),
                        F.concat_ws(
                            " ", F.slice(toks, s + 1, chunk_tokens)
                        ).alias("chunk"),
                        F.least(n - s, F.lit(chunk_tokens)).alias(
                            "n_chunk_toks"
                        ),
                    ),
                )
            ).alias("chunk_id", "c"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("c.chunk_start").cast("long").alias("chunk_start"),
            F.col("c.n_chunk_toks").cast("long").alias("n_chunk_toks"),
            F.col("c.chunk").alias("chunk"),
        )
    )
    return out


def canonicalize(text: Column) -> Column:
    """Dedup-canonical text form: lowercase, punctuation stripped,
    whitespace collapsed, trimmed — the standard normalization applied
    BEFORE exact/fuzzy dedup so trivial formatting variants (case,
    smart punctuation, double spaces) hash identically.  Pure JVM
    regexp expressions; compose as
    ``exact_dedup(df.withColumn("text", canonicalize(col("text"))))``."""
    no_punct = F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}\s]", " ")
    return F.trim(F.regexp_replace(no_punct, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text.  Stable across engines and runs."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(normalized)


def scrub_pii(text: Column) -> Column:
    """Redact email-shaped and long-digit-run substrings (the
    minimal PII scrub pass every training-data pipeline ships):
    JVM-side regexp_replace chain — order matters (emails first, so
    their digit runs don't get half-replaced)."""
    scrubbed = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(scrubbed, r"\d{9,}", "<NUM>")


def _luhn_ok(d: Column) -> Column:
    """Luhn fold over a pure-digit string column (internal — callers
    guarantee the rlike)."""
    return (
        F.aggregate(
            F.zip_with(
                F.split(F.reverse(d), ""),
                F.sequence(F.lit(0), F.length(d) - 1),
                lambda x, i: F.when(i % 2 == 0, x.cast("int")).otherwise(
                    F.when(x.cast("int") * 2 > 9, x.cast("int") * 2 - 9)
                    .otherwise(x.cast("int") * 2)
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        % 10
        == 0
    )


def luhn_valid(digits: Column) -> Column:
    """True iff the digit string passes the Luhn mod-10 checksum — the
    precision filter that separates payment-card numbers from ordinary
    long digit runs (ids, timestamps, phone numbers fail it 90% of the
    time by construction).  One shared ``aggregate`` fold
    (:func:`_luhn_ok` — also the ``find_card_numbers`` verify path, so
    the checksum lives in exactly one place).  NULL/empty/non-digit
    input → false."""
    return (
        digits.isNotNull()
        & digits.rlike("^[0-9]{12,19}$")
        & _luhn_ok(digits)
    )


def find_card_numbers(text: Column) -> Column:
    """Array of Luhn-VALID card-shaped spans (13-19 digits, optional
    space/dash group separators) AS THEY APPEAR in ``text`` —
    candidates via one ``regexp_extract_all``, each verified by the
    checksum on its separator-stripped form.  The two-stage shape
    (cheap syntactic candidates → exact verify) is the same discipline
    as the dedup joins, at expression scale."""
    cands = F.regexp_extract_all(
        text, F.lit(r"(?<![0-9])(?:\d[ -]?){12,18}\d(?![0-9])"), F.lit(0)
    )
    # bind the separator-stripped digit form ONCE per span via a
    # struct projection — referencing regexp_replace(span, ...) from
    # several places inside one lambda would re-run the regex each
    # time (the repo-wide no-CSE-in-HOF-lambda rule)
    with_digits = F.transform(
        cands,
        lambda span: F.struct(
            span.alias("span"),
            F.regexp_replace(span, "[ -]", "").alias("d"),
        ),
    )
    return F.transform(
        F.filter(
            with_digits,
            lambda x: x["d"].rlike("^[0-9]{13,19}$") & _luhn_ok(x["d"]),
        ),
        lambda x: x["span"],
    )


def scrub_pii_strict(text: Column) -> Column:
    """:func:`scrub_pii` plus checksum-verified card redaction: every
    Luhn-valid card-shaped span becomes ``<CARD>`` BEFORE the generic
    passes run (so the email/digit-run rules don't half-eat it) —
    replacement is a LITERAL ``replace`` per verified span, no regex
    rebuild.  Kept separate from ``scrub_pii`` — which the
    hash-checked ledger query uses — so that oracle contract stays
    byte-stable."""
    redacted = F.aggregate(
        find_card_numbers(text),
        text,
        lambda acc, span: F.replace(acc, span, F.lit("<CARD>")),
    )
    return scrub_pii(redacted)


def repetition_ratio(text: Column, k: int = 3) -> Column:
    """Fraction of k-gram occurrences belonging to the most frequent
    k-gram (Gopher-style repetition filter, Rae et al. 2021 §A1.1):
    near 1.0 ⇒ the document is one phrase repeated.  All higher-order
    functions — no UDF.

    Computed as SORT + LONGEST-EQUAL-RUN fold: O(n log n) per row.  The
    obvious form — count each distinct shingle with a nested filter —
    is O(distinct · n) per ROW, which is quadratic on low-repetition
    text and turns a 20k-shingle document into ~4·10⁸ comparisons; the
    fixtures (~100 shingles) masked it.

    Both the token and the sorted-shingle arrays are BOUND ONCE via the
    single-element-array + ``transform`` trick: Spark performs no
    common-subexpression elimination inside lambda bodies, so a bare
    ``shingles(text)`` referenced twice re-splits the whole document
    per reference (and per ``element_at`` inside the shingle builder —
    measured ~40 s/doc at 20k tokens); a lambda VARIABLE, by contrast,
    is a value bound once per element.  The fold's initial ``prev`` is
    NULL: null equality yields null, so the first element always takes
    the otherwise(run=1) branch — no sentinel a real shingle could
    collide with."""

    def over_shingles(sh: Column) -> Column:
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        best = F.aggregate(sh, init, step)["best"]
        return F.when(
            F.size(sh) > 0, best.cast("double") / F.size(sh).cast("double")
        ).otherwise(F.lit(0.0))

    return F.transform(
        F.array(tokens(text)),
        lambda toks: F.transform(
            F.array(F.array_sort(shingles_from_tokens(toks, k))),
            over_shingles,
        )[F.lit(0)],
    )[F.lit(0)]


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(text: Column) -> Column:
    """The Gopher document-quality rule battery (Rae et al. 2021,
    §A1.1) as ONE struct column — each signal plus the combined
    ``passes`` verdict, so pipelines can gate on the verdict and audit
    on the components without recomputing anything:

    * ``n_words``            — 50 ≤ count ≤ 100 000;
    * ``mean_word_len``      — 3 ≤ mean characters per word ≤ 10;
    * ``symbol_word_ratio``  — (# + …) per word < 0.1;
    * ``bullet_line_frac``   — < 90% of lines start with a bullet;
    * ``ellipsis_line_frac`` — < 30% of lines end with an ellipsis;
    * ``alpha_word_frac``    — ≥ 80% of words contain a letter;
    * ``n_gopher_stopwords`` — ≥ 2 distinct of the 8 Gopher stopwords.

    Everything is split/filter/aggregate higher-order expressions over
    ONE materialized token array and ONE line array per row — JVM-side,
    map-side, no shuffle; the struct projects in a single pass over the
    corpus.  Thresholds are the paper's. The short-doc guards mirror
    the engine-wide empty-array conventions.

    Words split on ANY whitespace run (not the corpus's single-space
    ``tokens()`` convention): line breaks must separate words for the
    per-line rules to agree with the per-word ones.

    The token/line arrays appear in many component expressions but do
    NOT need the bound-once trick of ``repetition_ratio`` /
    ``script_profile``: those references sit at the projection level,
    where Spark's subexpression elimination deduplicates them (measured
    at parity with an explicitly bound form even on 15k-word docs).
    The no-CSE hazard is specific to references INSIDE lambda bodies,
    which are evaluated per element."""
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
    nw = F.size(toks).cast("double")
    nl = F.size(lines).cast("double")
    safe_nw = F.greatest(nw, F.lit(1.0))
    safe_nl = F.greatest(nl, F.lit(1.0))
    mean_wl = (
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / safe_nw
    )
    n_sym = F.regexp_count(text, F.lit(r"#|\.\.\.|…")).cast("double")
    bullets = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^([-*•‣▪]|[0-9]+[.)])"))
    ).cast("double")
    ellipses = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    ).cast("double")
    alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.array_intersect(F.transform(toks, F.lower), stop_arr)
    ).cast("long")

    n_words = nw.cast("long")
    mean_word_len = F.round(mean_wl, 6)
    symbol_word_ratio = F.round(n_sym / safe_nw, 6)
    bullet_line_frac = F.round(bullets / safe_nl, 6)
    ellipsis_line_frac = F.round(ellipses / safe_nl, 6)
    alpha_word_frac = F.round(alpha / safe_nw, 6)
    passes = (
        n_words.between(50, 100_000)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_word_ratio < 0.1)
        & (bullet_line_frac < 0.9)
        & (ellipsis_line_frac < 0.3)
        & (alpha_word_frac >= 0.8)
        & (n_stop >= 2)
    )
    return F.struct(
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        n_stop.alias("n_gopher_stopwords"),
        passes.alias("passes"),
    )


C4_BAD_PHRASES = ("lorem ipsum", "javascript", "cookie policy",
                  "terms of use", "privacy policy", "uses cookies")


def c4_clean(text: Column) -> Column:
    """The C4 line-level cleaning recipe (Raffel et al. 2020 §2.2) as
    one struct column — the cleaned text plus audit counters:

    a line SURVIVES iff it ends in terminal punctuation (. ! ? "),
    has ≥ 4 whitespace words, and contains no boilerplate phrase
    (cookie/javascript/lorem-ipsum notices, case-insensitive); the
    document's ``clean_text`` is the surviving lines re-joined, and a
    document with any "{" (code page marker in the paper) is flagged.

    Returns ``struct(clean_text, n_lines, n_kept, has_brace)``.
    Everything is one split + filter/transform higher-order pass per
    row — map-side JVM expressions, no shuffle, no Python; pair with
    :func:`gopher_rules` (document level) for the full quality gate."""
    lines = F.split(text, "\n")
    phrase_alt = "|".join(p.replace(" ", r"\s+") for p in C4_BAD_PHRASES)
    keep = F.filter(
        lines,
        lambda ln: F.trim(ln).rlike(r"""[.!?"']$""")
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda w: w != "")) >= 4)
        & ~F.lower(ln).rlike(phrase_alt),
    )
    n_lines = F.size(F.filter(lines, lambda ln: F.trim(ln) != "")).cast("long")
    return F.struct(
        F.concat_ws("\n", keep).alias("clean_text"),
        n_lines.alias("n_lines"),
        F.size(keep).cast("long").alias("n_kept"),
        text.contains("{").alias("has_brace"),
    )


#: Unicode script blocks profiled by :func:`script_profile` (Java regex
#: script classes — Spark's rlike/regexp_count run Java regex)
SCRIPTS = ("Latin", "Cyrillic", "Han", "Arabic",
           "Devanagari", "Greek", "Hangul", "Hiragana", "Katakana")


def script_profile(text: Column) -> Column:
    """Unicode-script profile of a document — the script-level companion
    to the stopword language-ID heuristic, and the standard first cut
    for routing multilingual web text (script ≠ language, but Latin vs
    Han vs Cyrillic routing is exact and vocabulary-free):

    ``struct(n_letters, <script>_frac …, dominant_script)`` where each
    fraction is that script's share of LETTER characters and
    ``dominant_script`` is the argmax (ties broken alphabetically;
    ``"none"`` for letterless documents, ``"other"`` when the letters
    belong entirely to scripts outside the profiled nine — Hebrew,
    Thai, … must not win the all-zero argmax by alphabet).

    The (n_letters, per-script-frac array) pair is BOUND ONCE with the
    single-element-array + ``transform`` trick (see
    ``repetition_ratio``): the naive form re-evaluated the 9-regexp
    scored array inside the argmax filter's per-element lambda — ~60
    full-text regexp passes per row, measured 13.8 s for 5000 docs at
    sf0.1 versus ~1.3 s with exactly 10 passes (one per script + one
    letter count)."""
    n_letters_e = F.regexp_count(text, F.lit(r"\p{L}")).cast("double")

    def scored_arr(nl: Column) -> Column:
        safe = F.greatest(nl, F.lit(1.0))
        return F.array(
            *[
                F.struct(
                    F.round(
                        F.regexp_count(text, F.lit(rf"\p{{Is{s}}}")).cast("double")
                        / safe,
                        6,
                    ).alias("frac"),
                    F.lit(s.lower()).alias("name"),
                )
                for s in SCRIPTS
            ]
        )

    def build(nl: Column, sc: Column) -> Column:
        max_frac = F.array_max(F.transform(sc, lambda s: s["frac"]))

        def with_max(mx: Column) -> Column:
            # argmax with ALPHABETICAL tie-break: filter to the max
            # fraction, take the lexicographically smallest name.
            # max == 0 with letters present ⇒ every letter is in an
            # UNPROFILED script — route to "other", not the
            # alphabetically-first zero
            dominant = (
                F.when(nl == 0, F.lit("none"))
                .when(mx == 0, F.lit("other"))
                .otherwise(
                    F.array_min(
                        F.transform(
                            F.filter(sc, lambda s: s["frac"] == mx),
                            lambda s: s["name"],
                        )
                    )
                )
            )
            return F.struct(
                nl.cast("long").alias("n_letters"),
                *[
                    F.element_at(sc, i + 1)["frac"].alias(f"{s.lower()}_frac")
                    for i, s in enumerate(SCRIPTS)
                ],
                dominant.alias("dominant_script"),
            )

        return F.transform(F.array(max_frac), with_max)[F.lit(0)]

    return F.transform(
        F.array(n_letters_e),
        lambda nl: F.transform(F.array(scored_arr(nl)), lambda sc: build(nl, sc))[
            F.lit(0)
        ],
    )[F.lit(0)]
