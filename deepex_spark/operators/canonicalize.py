"""Canonicalization of predicates and entities (north_rule stage; O32
lemmatizer pattern).

Predicates: lowercase, non-ASCII scrub, whitespace collapse, per-word rule
lemmatization, stopword-stripping variant for grouping. Entities: lowercase
+ whitespace collapse + leading-determiner strip. Canonical ids are
``xxhash64`` of the canonical string — stable across runs, partitions and
cluster sizes (never ``monotonically_increasing_id``, which is
partition-layout-dependent).

Everything is JVM-side column algebra, lemmatization included: the
per-word exception table and suffix rules of ``nlp/keywords.py::lemma``
are one ``transform`` over the split words. The expressions are written
as SQL text for ``F.expr``: one parse on the driver, where building them
from Column calls took ~600 py4j round trips per plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Python's str.split() whitespace: ASCII \s plus the four separators
# \x1c-\x1f and the Unicode spaces (Java's \s matches ASCII only)
_PY_WHITESPACE = r"[\s\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_WS_RUN = _sql_str(r"\s+")
_NON_ASCII_RUN = _sql_str(r"[^\x00-\x7F]+")


def _lemma_sql(w: str) -> str:
    """``keywords.lemma`` of the lowercase word ``w`` (SQL text): the
    exception table, then the same suffix rules in the same order."""
    from deepex_spark.nlp.keywords import _LEMMA_EXCEPTIONS

    exceptions = ", ".join(_sql_str(x) for kv in _LEMMA_EXCEPTIONS.items() for x in kv)
    n = f"length({w})"

    def drop(k: int) -> str:
        return f"substr({w}, 1, {n} - {k})"

    def undouble(stem: str) -> str:  # running -> run, stopped -> stop
        return (f"CASE WHEN length({stem}) > 2 AND substr({stem}, -1, 1) = substr({stem}, -2, 1)"
                f" THEN substr({stem}, 1, length({stem}) - 1) ELSE {stem} END")

    def ends(*suffixes: str) -> str:
        return "(" + " OR ".join(f"endswith({w}, {_sql_str(x)})" for x in suffixes) + ")"

    return (
        f"coalesce(map({exceptions})[{w}], CASE"
        f" WHEN {n} > 4 AND {ends('ies')} THEN concat({drop(3)}, 'y')"
        f" WHEN {n} > 3 AND {ends('ches', 'shes', 'xes', 'sses', 'zes')} THEN {drop(2)}"
        f" WHEN {n} > 3 AND {ends('s')} AND NOT {ends('ss', 'us', 'is')} THEN {drop(1)}"
        f" WHEN {n} > 4 AND {ends('ing')} THEN {undouble(drop(3))}"
        f" WHEN {n} > 3 AND {ends('ed')} THEN {undouble(drop(2))}"
        f" ELSE {w} END)"
    )


def lemmatize_sql(expr: str) -> str:
    """Per-word ``keywords.lemma`` of the string SQL expression ``expr``,
    words split as Python's ``str.split()`` splits them and joined by
    single spaces; null stays null. JVM-side: no Python worker."""
    words = f"filter(split(lower({expr}), {_sql_str(_PY_WHITESPACE)}), x -> x != '')"
    return f"array_join(transform({words}, w -> {_lemma_sql('w')}), ' ')"


def norm_entity_sql(expr: str) -> str:
    """lowercase, collapse whitespace, strip one leading determiner."""
    collapsed = f"regexp_replace(lower({expr}), {_WS_RUN}, ' ')"
    return f"trim(regexp_replace({collapsed}, '^(the|a|an|this|that|these|those) ', ''))"


def _pred_norm_sql(expr: str) -> str:
    """lowercase, non-ASCII scrub, whitespace collapse."""
    ascii_only = f"regexp_replace(lower({expr}), {_NON_ASCII_RUN}, ' ')"
    return f"trim(regexp_replace({ascii_only}, {_WS_RUN}, ' '))"


def canonicalize_triples(triples: DataFrame) -> DataFrame:
    """Adds subj_canon / obj_canon / pred_canon + stable 64-bit ids, in two
    projections."""
    cols = set(triples.columns)
    canon = {
        f"{side}_canon": F.expr(norm_entity_sql(
            f"`{side}_entity`" if f"{side}_entity" in cols else f"`{side}`"))
        for side in ("subj", "obj")
    }
    canon["pred_canon"] = F.expr(lemmatize_sql(_pred_norm_sql("`rel`")))
    ids = {f"{part}_id": F.expr(f"xxhash64({part}_canon)") for part in ("subj", "obj", "pred")}
    return triples.withColumns(canon).withColumns(ids)


def resolve_entities(
    canon: DataFrame, max_dist: int = 2, max_block: int = 1000
) -> DataFrame:
    """Optional fuzzy entity-resolution pass over canonicalized triples:
    near-identical canonical entity strings (typos, OCR noise — within
    ``max_dist`` Levenshtein edits under the blocked matcher) merge to ONE
    entity id, so the vertex table and edge endpoints unify across surface
    noise the rule canonicalizer can't see.

    Deterministic representative: each connected component of the match
    graph adopts the member with the smallest ``xxhash64`` id — partition-
    and run-invariant — and both ``*_canon`` and ``*_id`` are rewritten to
    the representative's, keeping the id = xxhash64(canon) contract intact.

    Scale shape: the matcher runs on the DISTINCT entity-name table (tiny
    next to the triple stream — entities repeat heavily in a crawl corpus),
    the CC runs on the even-smaller match-pair graph, and only the
    identity-changing rows of the final mapping join back to the triples —
    two id-keyed equi-joins that broadcast whenever the mapping fits and
    shuffle on the id key otherwise (AQE decides). Nothing all-pairs,
    nothing collected to the driver.
    """
    from deepex_spark.operators.graph import connected_components
    from deepex_spark.operators.linking import entity_match_pairs

    names = (
        canon.select(F.col("subj_id").alias("ent_id"), F.col("subj_canon").alias("name"))
        .unionByName(
            canon.select(F.col("obj_id").alias("ent_id"), F.col("obj_canon").alias("name"))
        )
        .distinct()
    )
    pairs = entity_match_pairs(names, max_dist=max_dist, max_block=max_block)
    cc = connected_components(pairs, src="id_a", dst="id_b")  # (v, comp)
    reps = names.withColumnRenamed("ent_id", "comp").withColumnRenamed(
        "name", "rep_name"
    )
    mapping = (
        cc.join(reps, "comp")
        .where(F.col("v") != F.col("comp"))
        .select(F.col("v").alias("old_id"), F.col("comp").alias("new_id"), "rep_name")
    )
    out = canon
    for side in ("subj", "obj"):
        m = mapping.select(
            F.col("old_id").alias(f"_{side}_old"),
            F.col("new_id").alias(f"_{side}_new"),
            F.col("rep_name").alias(f"_{side}_rep"),
        )
        out = (
            out.join(m, out[f"{side}_id"] == m[f"_{side}_old"], "left")
            .withColumn(
                f"{side}_id", F.coalesce(f"_{side}_new", F.col(f"{side}_id"))
            )
            .withColumn(
                f"{side}_canon", F.coalesce(f"_{side}_rep", F.col(f"{side}_canon"))
            )
            .drop(f"_{side}_old", f"_{side}_new", f"_{side}_rep")
        )
    return out
