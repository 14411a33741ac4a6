"""M2 — open relation extraction over per-turn mention sequences.

The reference emits flat ``(attribute_type, mention_text)`` pairs per
sentence (/root/reference/utils.py:544-578); the KG pipeline turns
co-occurring mentions into ``(subj, pred, obj)`` triples using typed
pattern rules (SURVEY §3 M2, north_star "dependency/pattern-based open
relation extractor"). Semantics are specified by the Spark-free oracle
``ner_spark.kg.relate_mentions``: every ordered pair of mentions in one
turn whose subject span starts strictly before the object span, matched
against the (subj_type, obj_type) -> predicate rule table.

Physical plan (scale rationale):
* pair generation is ROW-LOCAL: the mentions of one turn already live in
  one array cell, so ordered pairs come from nested higher-order
  functions (transform × filter × flatten) — ZERO shuffle, versus the
  naive explode + self-join on (conv_id, turn_idx) which shuffles the
  exploded mention table twice. At 10^12 turns that join is two
  full-table exchanges for work each row can do alone;
* per-turn work is O(mentions²) but mentions-per-turn is bounded by turn
  length, so the quadratic term is a constant-bounded row cost — no task
  skew even on hot conversations (no conv-level grouping anywhere);
* the 8-rule predicate table ships as a map literal inside the plan (the
  degenerate broadcast join); an explicit ``rules_df`` remains for
  callers that want the relational form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.kg import REL_RULES


def rules_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s, o, p) for (s, o), p in sorted(REL_RULES.items())],
        "subj_type string, obj_type string, predicate string",
    )


def explode_mentions(mentions_df: DataFrame, mentions_col: str = "mentions") -> DataFrame:
    """(conv_id, turn_idx, mentions array<struct>) -> one row per mention
    occurrence, keeping the span anchor. ``pred`` in the mention struct is
    the entity *type* (the reference's attribute name, utils.py:558)."""
    return mentions_df.select(
        "conv_id",
        "turn_idx",
        F.explode(mentions_col).alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.pred").alias("mtype"),
        F.col("m.obj").alias("mtext"),
        F.col("m.span_start").alias("span_start"),
        F.col("m.span_end").alias("span_end"),
    )


def _rule_map() -> F.Column:
    """The 8-rule table as a map literal ``"subj_type|obj_type" -> pred``
    shipped with the plan — the degenerate form of a broadcast join."""
    entries = []
    for (st, ot), p in sorted(REL_RULES.items()):
        entries.extend([F.lit(f"{st}|{ot}"), F.lit(p)])
    return F.create_map(*entries)


def extract_relations(mentions_df: DataFrame, mentions_col: str = "mentions") -> DataFrame:
    """Per-turn typed relations, generated row-locally.

    Returns (conv_id, turn_idx, subj_type, subj, pred, obj_type, obj)
    with one row per matched ordered mention pair (duplicates preserved,
    matching the oracle's list semantics). Ordered pair = subject span
    starts strictly before object span (kg.relate_mentions).
    """
    from ner_spark.functions.colutil import let

    rules = _rule_map()

    def pairs_of(ms):
        def with_a(a):
            key_of = lambda b: F.concat(a["pred"], F.lit("|"), b["pred"])  # noqa: E731
            matches = F.filter(
                ms,
                lambda b: (a["span_start"] < b["span_start"])
                & rules[key_of(b)].isNotNull(),
            )
            return F.transform(
                matches,
                lambda b: F.struct(
                    a["pred"].alias("subj_type"),
                    a["obj"].alias("subj"),
                    rules[key_of(b)].alias("pred"),
                    b["pred"].alias("obj_type"),
                    b["obj"].alias("obj"),
                ),
            )

        return F.flatten(F.transform(ms, with_a))

    rels = let(F.col(mentions_col), pairs_of)
    return (
        mentions_df.select("conv_id", "turn_idx", F.explode(rels).alias("r"))
        .select(
            "conv_id",
            "turn_idx",
            F.col("r.subj_type").alias("subj_type"),
            F.col("r.subj").alias("subj"),
            F.col("r.pred").alias("pred"),
            F.col("r.obj_type").alias("obj_type"),
            F.col("r.obj").alias("obj"),
        )
    )

