"""Dictionary linking: the kernel probe (DictProbe inside the candidate
mapInPandas) against its join form (dictionary_link)."""

import pytest

from phenobert_spark import pipeline
from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import synthesize_corpus
from phenobert_spark.operators.candidates import generate_candidates
from phenobert_spark.operators.dict_link import DictProbe, dictionary_link

ROWS = [
    ("x", "HP:0000050", 0),  # strict / lemma tiers (prio 0 and 1)
    ("y", "HP:0000040", 1),
    ("y", "HP:0000030", 3),  # syn tier, a key held twice
    ("y", "HP:0000020", 3),
    ("z", "HP:0000060", 2),  # stem tier
    ("y", "HP:0000010", 4),  # drop-one tier
]


def test_probe_tier_priority():
    probe = DictProbe(ROWS)
    # (key, lemma_key, stem_key): strict > lemma > syn > stem > drop-one
    assert probe(("x", "y", "z")) == ("HP:0000050", 1.0)
    assert probe(("q", "x", "z")) == ("HP:0000050", 1.0)
    assert probe(("q", "y", "z")) == ("HP:0000040", 1.0)
    assert probe(("q", "q", "z")) == ("HP:0000060", 0.85)
    assert probe(("q", "q", "q")) is None
    no_lemma = [r for r in ROWS if r[2] != 1]
    # the duplicated syn key keeps its smallest hpo_id
    assert DictProbe(no_lemma)(("q", "y", "z")) == ("HP:0000020", 0.9)
    # tiers switched off are not probed
    no_syn = DictProbe(no_lemma, has_syn_tier=False)
    assert no_syn(("q", "y", "z")) == ("HP:0000060", 0.85)
    assert no_syn(("q", "y", "q")) == ("HP:0000010", 0.8)
    assert DictProbe(no_lemma, False, False)(("q", "y", "q")) is None


@pytest.mark.parametrize("has_syn_tier", [True, False])
@pytest.mark.parametrize("has_drop_one", [True, False])
def test_probe_matches_join_form(spark, has_syn_tier, has_drop_one):
    """Per candidate, the probe's (hpo_id, score) is the join form's
    best-scored row with the smallest hpo_id (what identical-span dedup
    keeps of a duplicated key)."""
    from phenobert_spark.ontology import DICT_SCHEMA

    keys = [
        (a, b, c) for a in ("x", "q") for b in ("x", "y", "q") for c in ("z", "q")
    ]
    cands = spark.createDataFrame(
        [(str(i), *k) for i, k in enumerate(keys)],
        "doc_id string, key string, lemma_key string, stem_key string",
    )
    dict_df = spark.createDataFrame(ROWS, DICT_SCHEMA)
    joined: dict[int, tuple] = {}
    for r in dictionary_link(cands, dict_df, has_syn_tier, has_drop_one).collect():
        if r.hpo_id is not None:
            best = joined.get(int(r.doc_id))
            joined[int(r.doc_id)] = min(
                best or (-r.score, r.hpo_id), (-r.score, r.hpo_id)
            )
    probe = DictProbe(ROWS, has_syn_tier, has_drop_one)
    for i, k in enumerate(keys):
        want = joined.get(i)
        assert probe(k) == (None if want is None else (want[1], -want[0])), k


# config -> the scores its output must hold on the tier corpus, so an
# equivalence over exact matches only cannot pass for a tier
CONFIGS = {
    "default": (PipelineConfig(), {1.0, 0.9, 0.85}),
    "no_syn_tier": (PipelineConfig(syn_tier_min_count=None), {1.0, 0.85}),
    "drop_one_dict": (PipelineConfig(drop_one_dict=True), {1.0, 0.9, 0.85, 0.8}),
    "syn_phrase": (PipelineConfig(syn_phrase_min_count=3), {1.0, 0.9, 0.85}),
    "model_stages": (PipelineConfig(use_model_stages=True), {1.0, 0.85}),
    "drop_one_query": (PipelineConfig(drop_one_query=True), {1.0, 0.9, 0.85}),
    # no fixture key token is a droppable modifier, so only the
    # unpruned candidate set reaches the query-side drop-one matches
    "drop_one_query_unpruned": (
        PipelineConfig(drop_one_query=True, vocab_prune=False),
        {1.0, 0.9, 0.85, 0.8},
    ),
}


def _tier_corpus(spark, onto):
    """synthesize_corpus (exact surface forms only) plus one document
    whose sentences reach the other tiers: split/synonym and drop-one
    variant keys, suffixed tokens (stem tier) and modifier-prefixed
    keys (query-side drop-one)."""
    from phenobert_spark.corpus import DOCUMENTS_SCHEMA

    docs, _ = synthesize_corpus(spark, onto, n_docs=20)
    rows = onto.dict_rows(10, 3, True)
    sents = [k for k, _, p in rows if p >= 3]
    sents += [" ".join(t + "ed" for t in k.split()) for k, _, p in rows if p == 0]
    sents += ["severe " + k for k, _, p in rows if p == 0 and " " in k]
    tiers = spark.createDataFrame(
        [("t", "tiers.txt", "0" * 40, "en", ". ".join(sents) + ".")],
        DOCUMENTS_SCHEMA,
    )
    return docs.unionByName(tiers)


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_annotate_equals_join_form(spark, onto, monkeypatch, name):
    """annotate() (kernel probe) returns exactly the rows of the same
    pipeline composed with dictionary_link after plain candidate
    generation."""
    cfg, scores = CONFIGS[name]
    docs = _tier_corpus(spark, onto)

    def rows():
        return sorted(tuple(r) for r in pipeline.annotate(spark, docs, onto, cfg).collect())

    got = rows()
    tiers = (cfg.syn_tier_min_count, cfg.syn_phrase_min_count, cfg.drop_one_dict)

    def join_form(chunks, max_kmer_len, vocab_bc=None, gate_bc=None, **_):
        cands = generate_candidates(
            chunks, max_kmer_len, vocab_bc=vocab_bc, gate_bc=gate_bc
        )
        return dictionary_link(
            cands,
            onto.dict_df(spark, *tiers),
            has_syn_tier=cfg.syn_tier_min_count is not None,
            has_drop_one=cfg.drop_one_dict,
        )

    monkeypatch.setattr(pipeline, "generate_candidates", join_form)
    assert got == rows()
    assert {r[6] for r in got} == scores
