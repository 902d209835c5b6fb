"""Mention detection over source code — the Spark analogue of
`tl canonicalize --add-context` + `tl clean` applied to a repo table
(reference wikifier/wikifier.py:79-80; north_star: "batched mention
detection (identifier/docstring/string-literal tokenization per lang)").

Fully NATIVE: per-lang extraction is regexp_extract_all (JVM regex inside
whole-stage codegen) + explode — no Python in this stage at all. The
content column is scanned once; sha256(content) is stamped per row before
any reshaping so the per-row invariant (BASELINE.json input_hint) is
carried through every downstream stage.

Scale notes: explode fans out ~#mentions per file but the projection drops
`content` immediately after extraction, so shuffle payloads carry short
strings only. mention_id is a deterministic hash of
(repo,path,commit,kind,label,pos) — stable across runs/parallelism, never
monotonically_increasing_id (which is partition-layout dependent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, sha256_col
from ..functions.strings import clean_label

# per-lang extraction patterns: (kind, regex with one capture group)
LANG_PATTERNS: dict[str, list[tuple[str, str]]] = {
    "python": [
        ("docstring", r'"""([^"]{3,200})"""'),
        ("identifier", r"def\s+([A-Za-z_][A-Za-z0-9_]{2,60})\s*\("),
        ("identifier", r"([a-z_][a-z0-9_]{2,60})\s*="),
        ("string_literal", r"'([^'\n]{3,80})'"),
    ],
    "java": [
        ("docstring", r"/\*\*([^*]{3,200})\*/"),
        ("identifier", r"\b(?:get|set)([A-Z][A-Za-z0-9]{2,60})\s*\("),
        ("string_literal", r'"([^"\n]{3,80})"'),
    ],
    "js": [
        ("docstring", r"/\*\*([^*]{3,200})\*/"),
        ("identifier", r"const\s+([A-Za-z_$][A-Za-z0-9_$]{2,60})\s*="),
        ("string_literal", r'"([^"\n]{3,80})"'),
    ],
    "md": [
        ("docstring", r"\*\*([^*\n]{3,80})\*\*"),
    ],
}

STOP_LABELS = frozenset(
    "the a an of and or for in to return import count make build".split()
)


def _split_ident_words(col: Column) -> Column:
    """snake_case / camelCase / kebab-case → space-separated words; a
    letter→digit boundary also starts a word (SmallSpring366 → "Small
    Spring 366", so it cleans to the label "small spring 366")."""
    c = F.regexp_replace(col, r"([a-z0-9])([A-Z])", r"$1 $2")
    c = F.regexp_replace(c, r"([A-Za-z])([0-9])", r"$1 $2")
    c = F.regexp_replace(c, r"[_\-]+", " ")
    return c


def _lang_hit_array(lang: str) -> "Column":
    """All of one language's patterns applied in ONE projection: an array
    of struct<kind,pos,raw> per row (flatten of per-pattern transforms)."""
    def tagger(kind: str):
        return lambda x, i: F.struct(
            F.lit(kind).alias("kind"), i.alias("pos"), x.alias("raw")
        )

    arrs = [
        F.transform(
            F.regexp_extract_all(F.col("content"), F.lit(pattern), 1), tagger(kind)
        )
        for kind, pattern in LANG_PATTERNS[lang]
    ]
    return F.flatten(F.array(*arrs))


CTX_TOP_TOKENS = 8
# Hard cap on the per-file distinct-label set entering the co-occurrence
# pair explode. The explode is quadratic in the per-file set size, and a
# generated mega-file (bundled/minified source, giant notebook) can carry
# tens of thousands of distinct labels — 10k labels = 100M pairs from ONE
# row, a single straggler task no parallelism can split. 256 labels caps
# any file at ≤65k pairs (~the pair count of a normal large file) while
# covering the full set of every ordinary source file.
CTX_MAX_FILE_LABELS = 256


def label_context(
    mentions: DataFrame,
    top_tokens: int = CTX_TOP_TOKENS,
    max_file_labels: int = CTX_MAX_FILE_LABELS,
) -> DataFrame:
    """Per-LABEL co-mention context: for every distinct label, the top-N
    other labels it shares files with, pipe-joined — the source-code
    analogue of `tl canonicalize --add-context`'s row context
    (wikifier/wikifier.py:79-80), aggregated to label level so the whole
    context feature stays vocabulary-scale (context differs per mention,
    so the label's context is its co-occurrence profile across the
    corpus — the same exact-aggregate trick the other label-level stats
    use).

    Scale: ONE file-keyed exchange total — per-file label SETS via a
    map-side-combined collect_set (never a self-join, which would shuffle
    the mention table twice and join it to itself), then co-occurrence
    pairs exploded from each set; (label, token) counts aggregate with
    map-side combine; the top-N cut is a bounded window over
    vocabulary-scale keys. Output is one short string per distinct
    label.

    The pair explode is QUADRATIC in the per-file set size, so the set is
    hard-capped at max_file_labels before exploding: array_sort + slice
    keeps the lexicographically-first N labels — deterministic across
    partitionings (a sampled subset would not be), and a mega-file
    contributes at most N² pairs instead of stalling its task with an
    unbounded |labels|² blowup. Ordinary files sit far below the cap, so
    their context is byte-identical with or without it (pinned by
    tests/test_context_pipeline.py::test_label_context_hot_file_capped)."""
    from pyspark.sql import Window

    # the file key only partitions the set-build — shuffle a 64-bit hash
    # instead of the (repo, path) strings (halves the exchange payload at
    # corpus scale; a 64-bit collision merely merges two files' co-mention
    # sets, which the top-N count smooths out)
    sets = (
        mentions.select(
            F.xxhash64("repo", "path").alias("_fid"), "label_clean"
        )
        .groupBy("_fid")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("label_clean")), 1, max_file_labels
            ).alias("ls")
        )
    )
    pairs = (
        sets.select(F.explode("ls").alias("label_clean"), "ls")
        .select("label_clean", F.explode("ls").alias("tok"))
        .where(F.col("label_clean") != F.col("tok"))
    )
    counts = pairs.groupBy("label_clean", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("label_clean").orderBy(F.desc("c"), F.asc("tok"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_tokens)
        .groupBy("label_clean")
        .agg(F.array_join(F.array_sort(F.collect_list("tok")), "|").alias("context"))
    )


def detect_mentions(source: DataFrame, with_context: bool = True) -> DataFrame:
    """source(repo,path,commit,lang,content) → MENTIONS schema table.

    with_context=False skips the per-file co-mention context aggregation
    (one of the two window passes and the per-row array building) — the
    source-code pipeline zeroes context scores anyway (code mentions have
    no tabular row context), so wikify() never reads the column.

    ONE pass over content: every pattern for the row's lang is applied in
    a single projection (a CASE over langs building one hit array), so the
    100 TB content column is scanned exactly once — the original
    union-per-pattern formulation re-scanned it len(patterns) times."""
    stamped = source.withColumn("content_sha256", sha256_col(F.col("content")))

    langs = sorted(LANG_PATTERNS)
    ext = F.when(F.col("lang") == langs[0], _lang_hit_array(langs[0]))
    for lang in langs[1:]:
        ext = ext.when(F.col("lang") == lang, _lang_hit_array(lang))
    ext = ext.otherwise(F.array().cast(
        "array<struct<kind:string,pos:int,raw:string>>"
    ))

    all_hits = stamped.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content_sha256",
        F.explode(ext).alias("h"),
    ).select(
        "repo", "path", "commit", "lang", "content_sha256",
        F.col("h.kind").alias("kind"),
        F.col("h.pos").alias("pos"),
        F.col("h.raw").alias("raw"),
    )

    cleaned = (
        all_hits.withColumn("label", F.trim(_split_ident_words(F.col("raw"))))
        .withColumn("label_clean", clean_label(F.col("label")))
        .where(F.length("label_clean") >= 3)
        .where(~F.col("label_clean").isin(list(STOP_LABELS)))
    )

    # ONE exchange for both the context aggregation and the per-file dedup:
    # hash-partitioning by (repo, path) clusters every finer window key
    # (repo, path, commit, kind, label_clean) too, so Catalyst plans both
    # windows over a single shuffle - the previous groupBy + join +
    # dropDuplicates formulation shuffled the mention table twice, joined
    # it back to itself, and needed a lineage barrier to stop the content
    # scan re-running. The dedup keeps the MINIMUM-pos hit (row_number
    # over pos), which also makes mention_id deterministic -
    # dropDuplicates kept a partition-order-dependent row, so mention ids
    # could differ between runs/parallelism levels.
    from pyspark.sql import Window

    if not with_context:
        # hot path (the source-code pipeline): min-pos dedup as a plain
        # aggregate instead of a row_number window — the hash aggregate
        # combines duplicate (file, kind, label) hits MAP-SIDE before the
        # exchange and never sorts the mention table; the min of the
        # (pos, raw) struct selects exactly the row the window's
        # orderBy(pos, raw) kept (label is a pure function of raw), so
        # mention ids are byte-identical to the window formulation.
        deduped = (
            cleaned.groupBy("repo", "path", "commit", "kind", "label_clean")
            .agg(
                F.min(F.struct("pos", "raw", "label")).alias("_m"),
                F.min("lang").alias("lang"),
                F.min("content_sha256").alias("content_sha256"),
            )
            .select(
                "repo", "path", "commit", "kind", "label_clean", "lang",
                "content_sha256",
                F.col("_m.pos").alias("pos"),
                F.col("_m.label").alias("label"),
            )
            .withColumn("context", F.lit(""))
        )
        return deduped.withColumn(
            "mention_id",
            md5_long(
                F.concat_ws(
                    "", "repo", "path", "commit", "kind", "label_clean",
                    F.col("pos").cast("string"),
                )
            ),
        ).select(
            "mention_id", "repo", "path", "commit", "lang", "kind",
            "label", "label_clean", "context", "content_sha256",
        )

    w_file = Window.partitionBy("repo", "path")
    w_dup = Window.partitionBy(
        "repo", "path", "commit", "kind", "label_clean"
    ).orderBy("pos", "raw")
    deduped = cleaned.withColumn("_rn", F.row_number().over(w_dup)).where(
        F.col("_rn") == 1
    )
    if with_context:
        deduped = deduped.withColumn(
            # same hot-file discipline as label_context: cap the per-row
            # co-mention set at CTX_MAX_FILE_LABELS (sorted, deterministic)
            # so a mega-file can't attach an unbounded array to every row
            "file_labels",
            F.slice(
                F.array_sort(F.collect_set("label_clean").over(w_file)),
                1,
                CTX_MAX_FILE_LABELS,
            ),
        ).withColumn(
            # context = the other mention labels found in the same file
            # (pipe-join), the analogue of canonicalize --add-context
            "context",
            F.array_join(
                F.filter(
                    F.col("file_labels"), lambda x: x != F.col("label_clean")
                ),
                "|",
            ),
        )
    else:
        deduped = deduped.withColumn("context", F.lit(""))
    out = (
        deduped
        .withColumn(
            "mention_id",
            md5_long(
                F.concat_ws(
                    "", "repo", "path", "commit", "kind", "label_clean",
                    F.col("pos").cast("string"),
                )
            ),
        )
        .select(
            "mention_id", "repo", "path", "commit", "lang", "kind",
            "label", "label_clean", "context", "content_sha256",
        )
    )
    return out
