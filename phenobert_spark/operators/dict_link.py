"""Step-1 dictionary entity linking (SURVEY.md §2.3 J1; reference
``matchPhrase2HPO`` util.py:409-421 applied at util.py:1044-1052).

A candidate probes the ontology surface-form dimension tier by tier;
the first tier holding its key wins (:data:`TIERS`):

1. strict: exact sorted-bag key against prio-0/1 rows (score 1.0),
2. lemma: lemma/orthography-folded key for the misses (score 1.0),
3. syn: mined+seeded synonym-variant and combining-form split keys in
   lemma space (prio 3, score 0.9; probed only when the syn tier is
   enabled),
4. stem: stemmed key against prio-2 rows (score 0.85; morphological-
   variant extension beyond the reference, ranked below the syn tier —
   a stem match is unvalidated suffix surgery: "limbic"/"limb" both
   stem to "limb"),
5. drop_one: dictionary-side drop-one variants (prio 4, score 0.8;
   default-off).

Two forms read the same table. :class:`DictProbe` is the kernel form:
``annotate()`` ships it as one broadcast and the candidate
``mapInPandas`` resolves every tier per row, so unmatched candidates
never leave the kernel. :func:`dictionary_link` is the join form: one
broadcast hash join per tier over the ~50-150k-row dictionary
(BASELINE.md). It is the equivalence oracle of the kernel form and the
layer the per-layer benchmark split composes.
"""

from __future__ import annotations

from typing import Iterable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Tier(NamedTuple):
    name: str
    prios: tuple[int, ...]  # dictionary rows (``prio`` column) in the tier
    column: str             # candidate key column that probes it
    score: float


# Priority order: a candidate links through the first tier holding its key.
TIERS = (
    Tier("strict", (0, 1), "key", 1.0),
    Tier("lemma", (0, 1), "lemma_key", 1.0),
    Tier("syn", (3,), "lemma_key", 0.9),
    Tier("stem", (2,), "stem_key", 0.85),
    Tier("drop_one", (4,), "lemma_key", 0.8),
)
PROBE_COLUMNS = ("key", "lemma_key", "stem_key")


def active_tiers(has_syn_tier: bool, has_drop_one: bool) -> list[Tier]:
    """The probed tiers: ``syn`` only with the syn tier on (its split-
    variant rows exist either way), ``drop_one`` only with the
    dictionary-side drop-one rows built."""
    on = {"syn": has_syn_tier, "drop_one": has_drop_one}
    return [t for t in TIERS if on.get(t.name, True)]


class DictProbe:
    """Picklable kernel form of :func:`dictionary_link`: per active tier,
    a ``key -> hpo_id`` dict. Where a tier holds a key twice (a split
    and a synonym variant of different concepts) the smallest hpo_id is
    kept — the row the join form's identical-span dedup keeps. Tiers
    over the same rows share one dict."""

    def __init__(
        self,
        rows: Iterable[tuple[str, str, int]],
        has_syn_tier: bool = True,
        has_drop_one: bool = True,
    ):
        tiers = active_tiers(has_syn_tier, has_drop_one)
        tables: dict[tuple[int, ...], dict[str, str]] = {t.prios: {} for t in tiers}
        for key, hpo, prio in rows:
            for prios, table in tables.items():
                if prio in prios:
                    old = table.get(key)
                    if old is None or hpo < old:
                        table[key] = hpo
        self.tiers = [
            (PROBE_COLUMNS.index(t.column), t.score, tables[t.prios]) for t in tiers
        ]

    def __call__(self, keys: tuple[str, str, str]) -> tuple[str, float] | None:
        """``keys`` = (key, lemma_key, stem_key) -> (hpo_id, score) of
        the first tier that holds its key, or None."""
        for col, score, table in self.tiers:
            hpo = table.get(keys[col])
            if hpo is not None:
                return hpo, score
        return None


def dictionary_link(
    candidates: DataFrame,
    dict_df: DataFrame,
    has_syn_tier: bool = True,
    has_drop_one: bool = True,
) -> DataFrame:
    """candidates(key, lemma_key, stem_key, ...) x dict(key, hpo_id,
    prio) -> + columns (hpo_id nullable, score nullable).

    One broadcast left join per active tier; ``coalesce`` over the
    tiers in :data:`TIERS` order picks the winner. ``has_syn_tier`` /
    ``has_drop_one``: whether the syn / drop-one tiers are probed;
    False leaves that join out of the plan.
    """
    out = candidates
    hpo_tiers, score, drop_cols = [], None, []
    for i, t in enumerate(active_tiers(has_syn_tier, has_drop_one)):
        k, h = f"_k{i}", f"_h{i}"
        d = F.broadcast(
            dict_df.filter(F.col("prio").isin(*t.prios)).select(
                F.col("key").alias(k), F.col("hpo_id").alias(h)
            )
        )
        out = out.join(d, F.col(t.column) == F.col(k), "left")
        hit = F.col(h).isNotNull()
        score = F.when(hit, t.score) if score is None else score.when(hit, t.score)
        hpo_tiers.append(F.col(h))
        drop_cols += [k, h]
    return (
        out.withColumn("hpo_id", F.coalesce(*hpo_tiers))
        .withColumn("score", score.cast("double"))
        .drop(*drop_cols)
    )


def drop_one_link(
    misses: DataFrame, dict_df: DataFrame, heads_df: DataFrame | None = None
) -> DataFrame:
    """Query-side drop-one probe: an unmatched candidate whose bag has
    ONE extra token over a dictionary key ("postnatal onset
    microcephaly" ~ "postnatal microcephaly") — the mirror direction of
    the prio-4 dictionary variants. Input rows must be unmatched
    candidates (hpo_id already dropped) with 3-7 tokens.

    All key arithmetic is JVM-side (split/slice/transform on lemma_key,
    whole-stage codegen); the probe explodes each miss into n drop-one
    keys and broadcast-joins the strict+lemma dictionary tier, keeping
    one deterministic winner per candidate span (min hpo_id). Matches
    score 0.8 — below every exact tier, so overlap dedup prefers exact
    spans."""
    toks = F.split(F.col("lemma_key"), " ")
    n = F.size(toks)
    probes = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.struct(
            F.get(toks, i).alias("dropped"),
            F.array_join(
                F.concat(
                    F.slice(toks, F.lit(1), i), F.slice(toks, i + F.lit(2), n)
                ),
                " ",
            ).alias("probe"),
        ),
    )
    exploded = misses.withColumn("_p", F.explode(probes)).select(
        "*", F.col("_p.dropped").alias("_dropped"), F.col("_p.probe").alias("_probe")
    ).drop("_p")
    if heads_df is not None:
        # only a DROPPABLE token may be elided: dropping a content head
        # ("lacrimal") changes what the mention denotes. heads_df holds
        # the allowed (droppable) tokens — semi join keeps those probes.
        exploded = exploded.join(
            F.broadcast(heads_df.withColumnRenamed("token", "_dropped")),
            "_dropped",
            "left_semi",
        )
    d = F.broadcast(
        dict_df.filter(F.col("prio") <= 1).select(
            F.col("key").alias("_kq"), F.col("hpo_id").alias("_hq")
        )
    )
    hits = exploded.join(d, F.col("_probe") == F.col("_kq"), "inner")
    # one winner per candidate span: lexicographically smallest hpo_id
    best = hits.groupBy("doc_id", "start", "end").agg(
        F.min("_hq").alias("hpo_id")
    )
    return (
        misses.join(best, ["doc_id", "start", "end"], "inner")
        .withColumn("score", F.lit(0.8).cast("double"))
    )
