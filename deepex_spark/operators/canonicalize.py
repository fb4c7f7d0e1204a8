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
are one ``transform`` over the split words.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DETERMINERS = ("the ", "a ", "an ", "this ", "that ", "these ", "those ")


# Python's str.split() whitespace: ASCII \s plus the four separators
# \x1c-\x1f and the Unicode spaces (Java's \s matches ASCII only)
_PY_WHITESPACE = r"[\s\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"


def _lemma_expr(w: Column) -> Column:
    """``keywords.lemma`` of one lowercase word as a column expression:
    the exception table, then the same suffix rules in the same order."""
    from deepex_spark.nlp.keywords import _LEMMA_EXCEPTIONS

    exceptions = F.create_map(*[F.lit(x) for kv in _LEMMA_EXCEPTIONS.items() for x in kv])
    n = F.length(w)

    def drop(k: int) -> Column:
        return w.substr(F.lit(1), n - k)

    def undouble(stem: Column) -> Column:  # running -> run, stopped -> stop
        return F.when(
            (F.length(stem) > 2) & (stem.substr(-1, 1) == stem.substr(-2, 1)),
            stem.substr(F.lit(1), F.length(stem) - 1),
        ).otherwise(stem)

    def ends(*suffixes: str) -> Column:
        hit = w.endswith(suffixes[0])
        for x in suffixes[1:]:
            hit = hit | w.endswith(x)
        return hit

    return F.coalesce(
        exceptions[w],
        F.when((n > 4) & ends("ies"), F.concat(drop(3), F.lit("y")))
        .when((n > 3) & ends("ches", "shes", "xes", "sses", "zes"), drop(2))
        .when((n > 3) & ends("s") & ~ends("ss", "us", "is"), drop(1))
        .when((n > 4) & ends("ing"), undouble(drop(3)))
        .when((n > 3) & ends("ed"), undouble(drop(2)))
        .otherwise(w),
    )


def lemmatize_col(col: Column) -> Column:
    """Per-word ``keywords.lemma`` of a string column, words split as
    Python's ``str.split()`` splits them and joined by single spaces; null
    stays null. JVM column algebra: no Python worker."""
    words = F.filter(F.split(F.lower(col), _PY_WHITESPACE), lambda w: w != "")
    return F.array_join(F.transform(words, _lemma_expr), " ")


def norm_entity_col(col: Column) -> Column:
    """lowercase, collapse whitespace, strip one leading determiner."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"\s+", " "),
            r"^(the|a|an|this|that|these|those) ",
            "",
        )
    )


def canonicalize_triples(triples: DataFrame) -> DataFrame:
    """Adds subj_canon / obj_canon / pred_canon + stable 64-bit ids."""
    ent_norm = norm_entity_col
    pred_norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("rel")), r"[^\x00-\x7F]+", " "), r"\s+", " "
        )
    )
    out = (
        triples.withColumn("subj_canon", ent_norm(F.col("subj_entity") if "subj_entity" in triples.columns else F.col("subj")))
        .withColumn("obj_canon", ent_norm(F.col("obj_entity") if "obj_entity" in triples.columns else F.col("obj")))
        .withColumn("pred_canon", lemmatize_col(pred_norm))
    )
    return (
        out.withColumn("subj_id", F.xxhash64("subj_canon"))
        .withColumn("obj_id", F.xxhash64("obj_canon"))
        .withColumn("pred_id", F.xxhash64("pred_canon"))
    )


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
