"""Ontology IC + MICA similarity (operators/kg_metrics.py) against
hand-computed values on a tiny DAG."""

import math

import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators import kg_metrics as km
from phenobert_spark.operators.closure import connected_components, transitive_closure
from phenobert_spark.operators.kg_metrics import (
    closure_with_self,
    concept_information_content,
    mica_similarity,
)

#        root
#        /  \
#       a    b
#      / \    \
#     c   d    e
EDGES = [("a", "root"), ("b", "root"), ("c", "a"), ("d", "a"), ("e", "b")]
# doc -> leaf concept annotations
ANN = [(1, "c"), (2, "c"), (3, "d"), (4, "e"), (4, "c")]


@pytest.fixture(scope="module")
def dag(spark):
    edges = spark.createDataFrame(EDGES, "child string, parent string")
    closure = closure_with_self(transitive_closure(edges))
    ann = spark.createDataFrame(ANN, "doc_id int, concept string")
    return closure, ann


def test_closure_with_self_has_identity_pairs(spark, dag):
    closure, _ = dag
    rows = {(r.node, r.anc) for r in closure.collect()}
    for n in ["root", "a", "b", "c", "d", "e"]:
        assert (n, n) in rows
    assert ("c", "root") in rows and ("e", "b") in rows
    assert ("c", "b") not in rows


def test_concept_ic_hand_computed(spark, dag):
    closure, ann = dag
    got = {
        r.concept: (r.n_docs, r.ic)
        for r in concept_information_content(ann, closure).collect()
    }
    # 4 docs total; docs at-or-below: c:{1,2,4} d:{3} e:{4} a:{1,2,3,4}
    # b:{4} root:{1,2,3,4}
    want = {"c": 3, "d": 1, "e": 1, "a": 4, "b": 1, "root": 4}
    assert {k: v[0] for k, v in got.items()} == want
    for k, n in want.items():
        assert got[k][1] == pytest.approx(-math.log(n / 4), abs=1e-12)
    # root/a cover the corpus -> IC exactly 0
    assert got["root"][1] == 0.0


def test_mica_similarity_hand_computed(spark, dag):
    closure, ann = dag
    ic = concept_information_content(ann, closure)
    pairs = spark.createDataFrame(
        [("c", "d"), ("c", "e"), ("d", "e"), ("a", "c")], "c1 string, c2 string"
    )
    got = {
        (r.c1, r.c2): (r.mica, r.resnik, r.lin)
        for r in mica_similarity(pairs, closure, ic).collect()
    }
    ln2, ln43 = math.log(2), math.log(4 / 3)
    # (c,d): common ancestors {a, root}, both IC 0 -> tie broken by
    # ascending id -> mica 'a', resnik 0, lin = 0/(ln(4/3)+ln4) = 0
    assert got[("c", "d")][0] == "a"
    assert got[("c", "d")][1] == 0.0
    assert got[("c", "d")][2] == 0.0
    # (c,e): only common ancestor root -> resnik 0
    assert got[("c", "e")][0] == "root"
    # (a,c): MICA is 'a' itself (self-pair in closure), IC(a)=0;
    # lin = 0 / (0 + IC(c)) = 0, denominator nonzero
    assert got[("a", "c")][0] == "a"
    assert got[("a", "c")][2] == 0.0
    # (d,e): root only; lin = 0/(ln4+ln4) = 0
    assert got[("d", "e")] == ("root", 0.0, 0.0)


def test_bma_doc_similarity_hand_computed(spark, dag):
    """BMA over the tiny DAG, every value hand-derived.

    S(1)={c} S(2)={c} S(3)={d} S(4)={e,c}; ic(c)=-ln(3/4),
    ic(d)=ic(e)=ln4, resnik(c,c)=ic(c), any cross-leaf pair's MICA is
    a zero-IC internal node.
    """
    from phenobert_spark.operators.kg_metrics import bma_doc_similarity

    closure, ann = dag
    ic = concept_information_content(ann, closure)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4), (1, 4)], "d1 int, d2 int"
    )
    got = {
        (r.d1, r.d2): r.bma
        for r in bma_doc_similarity(pairs, ann, closure, ic).collect()
    }
    icc = -math.log(3 / 4)
    # identical singleton sets -> bma = resnik(c,c) = ic(c)
    assert got[(1, 2)] == pytest.approx(icc, abs=1e-12)
    # disjoint subtrees, zero-IC common ancestors -> 0 both directions
    assert got[(1, 3)] == 0.0
    assert got[(3, 4)] == 0.0
    # (1,4): bm(1->4) = resnik(c,c) = ic(c);
    # bm(4->1) = mean(best(e->{c})=0, best(c->{c})=ic(c)) = ic(c)/2
    assert got[(1, 4)] == pytest.approx((icc + icc / 2) / 2, abs=1e-12)


def test_bma_doc_similarity_one_sided_and_empty_pairs(spark, dag):
    """A pair with one unannotated doc scores 0 (nothing to match);
    a pair with BOTH docs unannotated produces no row at all."""
    from phenobert_spark.operators.kg_metrics import bma_doc_similarity

    closure, ann = dag
    ic = concept_information_content(ann, closure)
    pairs = spark.createDataFrame([(1, 9), (8, 9)], "d1 int, d2 int")
    rows = bma_doc_similarity(pairs, ann, closure, ic).collect()
    assert {(r.d1, r.d2): r.bma for r in rows} == {(1, 9): 0.0}


def test_mica_lin_null_when_both_ics_zero(spark):
    """Degenerate pair (root, a) when both cover the corpus: lin is
    NULL (0/0), not a crash or a fabricated 1.0."""
    edges = spark.createDataFrame([("a", "root")], "child string, parent string")
    closure = closure_with_self(transitive_closure(edges))
    ann = spark.createDataFrame([(1, "a")], "doc_id int, concept string")
    ic = concept_information_content(ann, closure)
    pairs = spark.createDataFrame([("a", "root")], "c1 string, c2 string")
    [r] = mica_similarity(pairs, closure, ic).collect()
    assert r.resnik == 0.0 and r.lin is None


def test_mica_interesting_resnik_value(spark, dag):
    """A pair whose MICA is a non-root internal node with nonzero IC:
    annotate so that 'b' subtree is rare."""
    closure, _ = dag
    ann = spark.createDataFrame(
        [(1, "c"), (2, "d"), (3, "e"), (4, "e"), (5, "b")],
        "doc_id int, concept string",
    )
    ic = concept_information_content(ann, closure)
    pairs = spark.createDataFrame([("b", "e")], "c1 string, c2 string")
    [r] = mica_similarity(pairs, closure, ic).collect()
    # docs at-or-below b = {3,4,5} of 5 -> IC(b) = -ln(3/5)
    import math as m

    assert r.mica == "b"
    assert r.resnik == pytest.approx(-m.log(3 / 5), abs=1e-12)
    # lin = 2*IC(b) / (IC(b) + IC(e)); IC(e) = -ln(2/5)
    want_lin = 2 * -m.log(3 / 5) / (-m.log(3 / 5) + -m.log(2 / 5))
    assert r.lin == pytest.approx(want_lin, abs=1e-12)


def _lpa_ref(edges, nodes, iters):
    adj = {n: set() for n in nodes}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    lbl = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            if not nbrs:
                new[n] = lbl[n]
                continue
            counts = {}
            for v in nbrs:
                counts[lbl[v]] = counts.get(lbl[v], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lbl = new
    return lbl


def test_label_propagation_matches_reference(spark):
    import random

    from phenobert_spark.operators.kg_metrics import label_propagation

    rng = random.Random(5)
    nodes = list(range(30))
    edges = [
        (a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.1
    ]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    for iters in [1, 3]:
        got = {
            r.node: r.community
            for r in label_propagation(e, nodes=n, iters=iters).collect()
        }
        assert got == _lpa_ref(edges, nodes, iters), iters


def test_label_propagation_barbell_and_isolated(spark):
    from phenobert_spark.operators.kg_metrics import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    e = spark.createDataFrame(
        tri1 + tri2 + bridge, "src bigint, dst bigint"
    )
    n = spark.createDataFrame([(x,) for x in [1, 2, 3, 4, 5, 6, 99]], "node bigint")
    got = {
        r.node: r.community
        for r in label_propagation(e, nodes=n, iters=3).collect()
    }
    # the two triangles settle into separate communities; the isolated
    # node keeps its own label
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]
    assert got[99] == 99


def test_neighbor_mean_features_hand_computed(spark):
    import pyspark.sql.functions as F

    from phenobert_spark.operators.kg_metrics import neighbor_mean_features

    feats = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [20.0, 2.0]), (3, [30.0, 4.0]), (4, [100.0, 8.0])],
        "vec_id bigint, embedding array<double>",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src bigint, dst bigint"
    )
    got = {
        (r.node, r.dim): (r.mean, r.n_contrib)
        for r in neighbor_mean_features(edges, feats).collect()
    }
    # node 1: self + {2} -> (10+20)/2; node 2: self + {1,3} -> 20;
    # node 4: isolated, self only
    assert got[(1, 0)] == (15.0, 2)
    assert got[(2, 0)] == (20.0, 3)
    assert got[(2, 1)] == (2.0, 3)
    assert got[(3, 0)] == (25.0, 2)
    assert got[(4, 0)] == (100.0, 1)

    # without self-loops, isolated nodes disappear and means shift
    got2 = {
        (r.node, r.dim): (r.mean, r.n_contrib)
        for r in neighbor_mean_features(
            edges, feats, include_self=False
        ).collect()
    }
    assert got2[(1, 0)] == (20.0, 1)
    assert got2[(2, 0)] == (20.0, 2)
    assert (4, 0) not in got2

    # chaining two layers = re-grouping the long output back to arrays
    layer1 = (
        neighbor_mean_features(edges, feats)
        .groupBy("node")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mean"))
            ).alias("_s")
        )
        .select(
            F.col("node").alias("vec_id"),
            F.transform("_s", lambda s: s["mean"]).alias("embedding"),
        )
    )
    layer2 = neighbor_mean_features(edges, layer1)
    assert layer2.filter("node = 1 and dim = 0").first().mean == 17.5


def test_personalized_pagerank_localizes_to_seed(spark):
    from phenobert_spark.operators.kg_metrics import personalized_pagerank

    # two disconnected stars: seed in star A -> star B gets zero mass
    edges = spark.createDataFrame(
        [("a", "a1"), ("a", "a2"), ("b", "b1"), ("b", "b2")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r.node: r.rank
        for r in personalized_pagerank(edges, seeds, iters=4).collect()
    }
    assert got["a"] > got["a1"] > 0
    assert abs(got["a1"] - got["a2"]) < 1e-15
    assert got["b"] == 0.0 and got["b1"] == 0.0

    # exact closed form: reset(a)=1; rank_i(a) = 0.15 for i>=1;
    # rank_i(a1) = 0.85 * rank_{i-1}(a) / 2
    assert abs(got["a"] - 0.15) < 1e-12
    assert abs(got["a1"] - 0.85 * 0.15 / 2) < 1e-12


def test_personalized_pagerank_requires_seeds(spark):
    import pytest

    from phenobert_spark.operators.kg_metrics import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    empty = spark.createDataFrame([], "node string")
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(edges, empty)


def test_personalized_pagerank_isolated_seed_keeps_mass(spark):
    from phenobert_spark.operators.kg_metrics import personalized_pagerank

    # seed "z" has no incident edge: it must still appear in the rank
    # vector holding its (1-d)/n_seeds reset mass, and the connected
    # seed's ranks must be computed against n_seeds=2 (not silently 1).
    edges = spark.createDataFrame(
        [("a", "a1"), ("a", "a2")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",), ("z",)], "node string")
    got = {
        r.node: r.rank
        for r in personalized_pagerank(edges, seeds, iters=4).collect()
    }
    assert "z" in got
    # z only ever receives its reset share: (1-0.85) * 1/2
    assert abs(got["z"] - 0.15 / 2) < 1e-12
    assert abs(got["a"] - 0.15 / 2) < 1e-12
    assert abs(got["a1"] - 0.85 * (0.15 / 2) / 2) < 1e-12


def test_kg_metrics_job_end_to_end(spark, tmp_path):
    """jobs/kg_metrics.py: the composed graph report over the engine's
    OWN triples (fixture pipeline output), all four artifacts written
    and internally consistent."""
    from jobs.kg_metrics import main
    from phenobert_spark.config import PipelineConfig
    from phenobert_spark.corpus import synthesize_corpus
    from phenobert_spark.ontology import fixture_ontology
    from phenobert_spark.pipeline import annotate

    onto = fixture_ontology()
    docs, _ = synthesize_corpus(spark, onto, n_docs=12)
    triples = annotate(spark, docs, onto, PipelineConfig())
    tri_path = str(tmp_path / "triples")
    triples.write.parquet(tri_path)
    out = str(tmp_path / "kg")

    main(
        [
            "--triples", tri_path, "--output", out,
            "--iters", "4", "--lpa-iters", "2",
            "--top-ic-seeds", "3", "--ontology", "fixture",
        ],
        spark=spark,
    )

    ic = spark.read.parquet(f"{out}/concept_ic")
    pr = spark.read.parquet(f"{out}/pagerank")
    comm = spark.read.parquet(f"{out}/communities")
    ppr = spark.read.parquet(f"{out}/ppr")

    n_ann_docs = triples.select("doc_id").distinct().count()
    ic_rows = {r.concept: (r.n_docs, r.ic) for r in ic.collect()}
    assert ic_rows, "no IC rows"
    # the ontology root subsumes every annotated doc -> IC 0 at the root
    root_docs = max(n for n, _ in ic_rows.values())
    assert root_docs == n_ann_docs
    assert any(abs(icv) < 1e-12 for _, icv in ic_rows.values())
    # IC is monotone non-increasing along the closure: every concept's
    # n_docs <= its ancestors' (checked via the max == root above and
    # positivity below)
    assert all(n >= 1 and icv >= 0 for n, icv in ic_rows.values())

    # pagerank covers both partitions of the bipartite graph + taxonomy
    pr_nodes = {r.node for r in pr.collect()}
    assert any(n.startswith("HP:") for n in pr_nodes)
    assert set(ic_rows) <= pr_nodes or pr_nodes & set(ic_rows)

    # every graph node gets a community label
    assert comm.filter(F.col("community").isNull()).count() == 0
    assert comm.count() == len(pr_nodes)

    # PPR: the top-IC seeds carry reset mass -> strictly positive rank
    seeds = {
        r.concept
        for r in ic.orderBy(F.desc("n_docs"), "concept").limit(3).collect()
    }
    ppr_ranks = {r.node: r.rank for r in ppr.collect()}
    assert all(ppr_ranks[s] > 0 for s in seeds)

    # round-5 artifacts: structural summary + concept link proposals
    summ = spark.read.parquet(f"{out}/summary").collect()
    assert len(summ) == 1 and summ[0].n_edges > 0
    assert summ[0].n_nodes == len(pr_nodes)
    links = spark.read.parquet(f"{out}/link_candidates")
    for r in links.collect():  # may be empty on a tiny fixture corpus
        assert r.node_a.startswith("HP:") and r.node_b.startswith("HP:")
        assert r.common_neighbors >= 2

    # round-5 artifact: deterministic training negatives (q148 operator)
    negs = spark.read.parquet(f"{out}/training_negatives")
    assert negs.count() == triples.select("doc_id", "hpo_id").distinct().count()
    assert negs.filter(F.col("tail") == F.col("neg_tail")).count() == 0
    concepts = {r.hpo_id for r in triples.select("hpo_id").distinct().collect()}
    assert {r.neg_tail for r in negs.collect()} <= concepts

    # round-5 quality artifacts: fused confidence, shape report, schema card
    fused = spark.read.parquet(f"{out}/fused_confidence")
    assert (
        fused.count()
        == triples.select("doc_id", "hpo_id").distinct().count()
    )
    # dictionary-tier mentions score exactly 1.0 -> the clamped
    # noisy-OR rounds to 1.0 at 6 places; it must never exceed 1 or
    # hit 0
    assert fused.filter((F.col("pooled") <= 0) | (F.col("pooled") > 1)).count() == 0
    # pipeline output links only ontology-known, well-formed ids
    assert spark.read.parquet(f"{out}/shape_violations").count() == 0
    card = spark.read.parquet(f"{out}/schema_card").collect()
    assert len(card) == 1
    assert (card[0].subj_type, card[0].pred, card[0].obj_type) == (
        "document", "has_phenotype", "phenotype",
    )
    assert card[0].n_triples == fused.count()

    # round-5 artifact: neighborhood function + effective diameter
    nf = spark.read.parquet(f"{out}/neighborhood").orderBy("radius").collect()
    assert [r.radius for r in nf] == [0, 1, 2, 3, 4]
    assert all(a.n_pairs <= b.n_pairs + 1e-9 for a, b in zip(nf, nf[1:]))
    assert nf[0].effective_diameter_q90 >= 0.0
    assert len({r.effective_diameter_q90 for r in nf}) == 1


# ---------------------------------------------------------------------------
# round-5 graph additions: HITS, k-core, link prediction, co-occurrence
# ---------------------------------------------------------------------------


def test_hits_hand_computed(spark):
    """2 iterations on a->c, b->c, b->d, worked by hand with L1
    normalization: hub(a)=5/13, hub(b)=8/13, auth(c)=5/8, auth(d)=3/8."""
    from phenobert_spark.operators.kg_metrics import hits

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("b", "d")], "src string, dst string"
    )
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iters=2).collect()}
    assert got["a"][0] == pytest.approx(5 / 13, abs=1e-12)
    assert got["b"][0] == pytest.approx(8 / 13, abs=1e-12)
    assert got["c"][1] == pytest.approx(5 / 8, abs=1e-12)
    assert got["d"][1] == pytest.approx(3 / 8, abs=1e-12)
    # sinks hub 0, sources auth 0
    assert got["c"][0] == 0.0 and got["d"][0] == 0.0
    assert got["a"][1] == 0.0 and got["b"][1] == 0.0
    # L1 invariants
    assert sum(h for h, _ in got.values()) == pytest.approx(1.0)
    assert sum(a for _, a in got.values()) == pytest.approx(1.0)


def test_k_core_peels_pendant(spark):
    """Triangle a-b-c with pendant d: the 2-core drops d, keeps the
    triangle at core-degree 2; the 3-core is empty."""
    from phenobert_spark.operators.kg_metrics import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")],
        "src string, dst string",
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2, iters=3).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    assert k_core(edges, k=3, iters=3).count() == 0


def test_k_core_handles_duplicates_and_direction(spark):
    """Reversed/duplicate edges and self-loops normalize away before
    the peel."""
    from phenobert_spark.operators.kg_metrics import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
         ("b", "c"), ("a", "c")],
        "src string, dst string",
    )
    got = {r.node: r.core_degree for r in k_core(edges, k=2, iters=3).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_link_prediction_path_graph(spark):
    """Path a-b-c-d: exactly the two wedge-closing pairs, scored by
    hand (jaccard 0.5, adamic_adar 1/ln 2)."""
    import math

    from phenobert_spark.operators.kg_metrics import link_prediction

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    rows = {
        (r.node_a, r.node_b): (r.common_neighbors, r.jaccard, r.adamic_adar)
        for r in link_prediction(edges).collect()
    }
    assert set(rows) == {("a", "c"), ("b", "d")}
    for cn, jac, aa in rows.values():
        assert cn == 1
        assert jac == pytest.approx(0.5, abs=1e-12)
        assert aa == pytest.approx(1 / math.log(2), abs=1e-12)


def test_link_prediction_excludes_existing_edges_and_caps_hubs(spark):
    """A closed triangle proposes nothing (all pairs adjacent); a hub
    cap below the center's degree suppresses its wedges."""
    from phenobert_spark.operators.kg_metrics import link_prediction

    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    assert link_prediction(tri).count() == 0

    star = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z")], "src string, dst string"
    )
    assert link_prediction(star).count() == 3  # x-y x-z y-z via h
    assert link_prediction(star, max_center_degree=2).count() == 0


def test_cooccurrence_stats_hand_computed(spark):
    """3 baskets {x,y} {x,y} {x,z}: only (x,y) survives min_pair_count=2;
    support 2/3, lift 2*3/(3*2)=1, conf x->y 2/3, conf y->x 1."""
    from phenobert_spark.operators.kg_metrics import cooccurrence_stats

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
         (1, "x")],  # duplicate observation dedups
        "g int, item string",
    )
    rows = cooccurrence_stats(df, "g", "item", min_pair_count=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b, r.pair_count) == ("x", "y", 2)
    assert r.support == pytest.approx(2 / 3, abs=1e-12)
    assert r.lift == pytest.approx(1.0, abs=1e-12)
    assert r.conf_a_b == pytest.approx(2 / 3, abs=1e-12)
    assert r.conf_b_a == pytest.approx(1.0, abs=1e-12)


def test_graph_summary_path_graph(spark):
    """Path a-b-c: 3 nodes, 2 edges, mean degree 4/3, max 2,
    assortativity exactly -1 (ends pair with the middle only)."""
    from phenobert_spark.operators.kg_metrics import graph_summary

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    r = graph_summary(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.max_degree) == (3, 2, 2)
    assert r.avg_degree == pytest.approx(4 / 3, abs=1e-12)
    assert r.assortativity == pytest.approx(-1.0, abs=1e-12)


def test_graph_summary_regular_graph_null_assortativity(spark):
    """A triangle is 2-regular: zero degree variance -> the Pearson
    denominator is 0 and assortativity must be NULL, not a crash or
    an inf."""
    from phenobert_spark.operators.kg_metrics import graph_summary

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    r = graph_summary(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.max_degree) == (3, 3, 2)
    assert r.assortativity is None


def test_ranking_metrics_hand_computed(spark):
    """q1: positive ranks 2 of 3; q2: positive ranks 1; q3 has no
    positive -> dropped. MRR = (1/2 + 1)/2 = 0.75."""
    from phenobert_spark.operators.kg_metrics import ranking_metrics

    rows = [
        ("q1", "a", 0.9, False),
        ("q1", "b", 0.8, True),
        ("q1", "c", 0.1, False),
        ("q2", "x", 0.5, True),
        ("q2", "y", 0.4, False),
        ("q3", "z", 0.3, False),
    ]
    scored = spark.createDataFrame(
        rows, "query_id string, candidate string, score double, is_positive boolean"
    )
    r = ranking_metrics(scored, ks=(1, 2)).collect()[0]
    assert r.n_queries == 2
    assert r.mrr == pytest.approx(0.75, abs=1e-6)
    assert r.hits_1 == pytest.approx(0.5, abs=1e-6)
    assert r.hits_2 == pytest.approx(1.0, abs=1e-6)
    assert r.mean_rank == pytest.approx(1.5, abs=1e-6)


def test_ranking_metrics_tie_breaks_on_candidate(spark):
    """Equal scores rank by candidate ASC — deterministic across runs."""
    from phenobert_spark.operators.kg_metrics import ranking_metrics

    rows = [
        ("q", "a", 1.0, False),
        ("q", "b", 1.0, True),  # ties with a; 'a' < 'b' -> positive rank 2
    ]
    scored = spark.createDataFrame(
        rows, "query_id string, candidate string, score double, is_positive boolean"
    )
    r = ranking_metrics(scored, ks=(1,)).collect()[0]
    assert r.mean_rank == 2.0 and r.hits_1 == 0.0


def test_ranking_metrics_multi_positive_takes_best(spark):
    from phenobert_spark.operators.kg_metrics import ranking_metrics

    rows = [
        ("q", "a", 0.9, True),
        ("q", "b", 0.5, True),
        ("q", "c", 0.1, False),
    ]
    scored = spark.createDataFrame(
        rows, "query_id string, candidate string, score double, is_positive boolean"
    )
    assert ranking_metrics(scored).collect()[0].mrr == 1.0


def test_calibration_bins_hand_computed(spark):
    from phenobert_spark.operators.kg_metrics import calibration_bins

    rows = [
        (0.05, True), (0.05, False),          # bin 0: frac 0.5
        (0.55, True), (0.55, True),           # bin 5: frac 1.0
        (1.2, False), (-0.3, False),          # clamp: bins 9 and 0
    ]
    scored = spark.createDataFrame(rows, "score double, is_positive boolean")
    got = {r.bin: r for r in calibration_bins(scored, n_bins=10).collect()}
    assert set(got) == {0, 5, 9}
    assert got[0].n == 3 and got[0].frac_positive == pytest.approx(1 / 3, abs=1e-6)
    assert got[0].bin_lo == 0.0
    assert got[5].n == 2 and got[5].frac_positive == 1.0
    assert got[5].bin_lo == 0.5 and got[5].mean_score == pytest.approx(0.55, abs=1e-6)
    assert got[9].n == 1 and got[9].frac_positive == 0.0


def test_calibration_bins_rejects_bad_bins(spark):
    from phenobert_spark.operators.kg_metrics import calibration_bins

    scored = spark.createDataFrame([(0.5, True)], "score double, is_positive boolean")
    with pytest.raises(ValueError):
        calibration_bins(scored, n_bins=0)


# ---------------------------------------------------------------------------
# hyperball
# ---------------------------------------------------------------------------

def _exact_balls(edges, radius, directed=False):
    """Brute-force r-hop reachable sets (the quadratic computation
    hyperball exists to avoid) for the equivalence check."""
    adj = {}
    nodes = set()
    for u, v in edges:
        if u == v:
            continue
        nodes.update((u, v))
        adj.setdefault(u, set()).add(v)
        if not directed:
            adj.setdefault(v, set()).add(u)
    balls = {(n, 0): {n} for n in nodes}
    for r in range(1, radius + 1):
        for n in nodes:
            b = set(balls[(n, 0)])
            frontier = {n}
            for _ in range(r):
                frontier = {w for x in frontier for w in adj.get(x, ())}
                b |= frontier
            balls[(n, r)] = b
    return balls


_HB_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),  # path
    ("c", "f"), ("f", "g"),                          # branch
    ("x", "y"),                                      # separate component
]


def test_hyperball_equals_hll_of_exact_ball(spark):
    """hyperball's estimate at (node, r) must EQUAL hll_distinct run
    on the exact r-hop reachable set — the register recurrence is a
    lossless union, so the sketches coincide, not just approximate."""
    from phenobert_spark.operators.kg_metrics import hyperball
    from phenobert_spark.operators.sketches import hll_distinct

    radius = 3
    got = {
        (r.node, r.radius): (r.n_buckets, r.est)
        for r in hyperball(
            spark.createDataFrame(_HB_EDGES, "src string, dst string"),
            radius=radius, p=9,
        ).collect()
    }
    balls = _exact_balls(_HB_EDGES, radius)
    rows = [
        (n, r, m) for (n, r), members in balls.items() for m in members
    ]
    want = {
        (x.node, x.radius): (x.n_buckets, x.est)
        for x in hll_distinct(
            spark.createDataFrame(rows, "node string, radius int, member string"),
            "member", ["node", "radius"], p=9,
        ).collect()
    }
    assert got == want
    # and every estimate is close to truth at these tiny ball sizes
    for (n, r), (_, est) in got.items():
        exact = len(balls[(n, r)])
        assert abs(est - exact) / exact < 0.2, (n, r, est, exact)


def test_hyperball_monotone_and_radius0(spark):
    import math as m

    from phenobert_spark.operators.kg_metrics import hyperball

    out = hyperball(
        spark.createDataFrame(_HB_EDGES, "src string, dst string"),
        radius=2, p=9,
    ).collect()
    one = 512.0 * m.log(512.0 / 511.0)  # linear counting of a singleton
    by_node = {}
    for r in out:
        by_node.setdefault(r.node, {})[r.radius] = r.est
        if r.radius == 0:
            assert r.est == pytest.approx(one, rel=1e-12)
    for n, ests in by_node.items():
        assert ests[0] <= ests[1] + 1e-9 and ests[1] <= ests[2] + 1e-9


def test_hyperball_directed_respects_edge_direction(spark):
    from phenobert_spark.operators.kg_metrics import hyperball

    edges = [("a", "b"), ("b", "c")]
    out = {
        (r.node, r.radius): r.n_buckets
        for r in hyperball(
            spark.createDataFrame(edges, "src string, dst string"),
            radius=2, p=9, directed=True,
        ).collect()
    }
    # out-ball of c never grows; a reaches all three at r=2
    assert out[("c", 0)] == out[("c", 2)] == 1
    assert out[("a", 2)] == 3


def test_hyperball_rejects_negative_radius(spark):
    from phenobert_spark.operators.kg_metrics import hyperball

    with pytest.raises(ValueError):
        hyperball(
            spark.createDataFrame([("a", "b")], "src string, dst string"),
            radius=-1,
        )


def test_effective_diameter_path_graph(spark):
    from phenobert_spark.operators.kg_metrics import (
        effective_diameter,
        hyperball,
        neighborhood_function,
    )

    # path a-b-c-d-e: exact N(r) at p=9 is essentially exact for
    # these ball sizes, so the interpolated diameter lands between
    # the true bracketing radii
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    hb = hyperball(
        spark.createDataFrame(edges, "src string, dst string"),
        radius=4, p=9,
    )
    nf = {r.radius: r.n_pairs for r in neighborhood_function(hb).collect()}
    # true pair counts within r hops on the 5-path:
    # r=0: 5, r=1: 13, r=2: 19, r=3: 23, r=4: 25
    for r, exact in {0: 5, 1: 13, 2: 19, 3: 23, 4: 25}.items():
        assert abs(nf[r] - exact) / exact < 0.1, (r, nf[r], exact)
    d = effective_diameter(hb, quantile=0.9)
    # 0.9 * 25 = 22.5 lands between N(2)=19 and N(3)=23 -> d in (2, 3)
    assert 2.0 < d < 3.0
    assert effective_diameter(hb, quantile=0.01) == 0.0
    with pytest.raises(ValueError):
        effective_diameter(hb, quantile=0.0)


def test_harmonic_centrality_path_graph(spark):
    from phenobert_spark.operators.kg_metrics import (
        harmonic_centrality,
        hyperball,
    )

    # path a-b-c-d-e, radius covers the full diameter; exact harmonic:
    # center c: 2*(1 + 1/2) = 3.0; b and d: 1+1+1/2+1/3 = 17/6;
    # ends a, e: 1 + 1/2 + 1/3 + 1/4 = 25/12. HLL at p=9 on <=5-node
    # balls is linear-counting exact up to ~0.3% (m*ln(m/(m-1)) per
    # element), so a 5% band is generous.
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    hb = hyperball(
        spark.createDataFrame(edges, "src string, dst string"),
        radius=4, p=9,
    )
    h = {r.node: r.harmonic for r in harmonic_centrality(hb).collect()}
    exact = {"a": 25 / 12, "b": 17 / 6, "c": 3.0, "d": 17 / 6, "e": 25 / 12}
    for node, val in exact.items():
        assert abs(h[node] - val) / val < 0.05, (node, h[node], val)
    # the center is strictly most central under any tolerance here
    assert h["c"] == max(h.values())


def test_modularity_two_cliques(spark):
    from phenobert_spark.operators.kg_metrics import modularity

    # two triangles joined by one bridge: the textbook partition.
    # m = 7; communities A={a,b,c}, B={d,e,f};
    # L_A = L_B = 3, D_A = D_B = 7 -> Q_c = 3/7 - (7/14)^2 = 0.178571
    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("d", "e"), ("e", "f"), ("d", "f"),
        ("c", "d"),
    ]
    com = [(n, "A") for n in "abc"] + [(n, "B") for n in "def"]
    out = modularity(
        spark.createDataFrame(edges, "src string, dst string"),
        spark.createDataFrame(com, "node string, community string"),
    ).collect()
    rows = {r.community: r for r in out}
    for c in "AB":
        assert rows[c].within_edges == 3
        assert rows[c].degree_sum == 7
        assert abs(rows[c].contribution - (3 / 7 - 0.25)) < 1e-6
    # total modularity of the intuitive partition is positive
    assert sum(r.contribution for r in out) > 0.3


def test_modularity_ignores_direction_and_duplicates(spark):
    from phenobert_spark.operators.kg_metrics import modularity

    # both directions + a self-loop collapse to ONE undirected edge
    edges = [("a", "b"), ("b", "a"), ("a", "a")]
    com = [("a", "X"), ("b", "X")]
    out = modularity(
        spark.createDataFrame(edges, "src string, dst string"),
        spark.createDataFrame(com, "node string, community string"),
    ).collect()
    assert len(out) == 1
    r = out[0]
    # single edge fully inside X: Q = 1/1 - (2/2)^2 = 0
    assert r.within_edges == 1 and r.degree_sum == 2
    assert abs(r.contribution) < 1e-9


def test_modularity_empty_edges_raises(spark):
    from phenobert_spark.operators.kg_metrics import modularity

    with pytest.raises(ValueError):
        modularity(
            spark.createDataFrame([], "src string, dst string"),
            spark.createDataFrame([("a", "X")], "node string, community string"),
        )


# two triangles a-b-c and d-e-f bridged by c-d
_TRI2 = [
    ("a", "b"), ("b", "c"), ("a", "c"),
    ("d", "e"), ("e", "f"), ("d", "f"),
    ("c", "d"),
]


def test_refine_communities_singleton_start(spark):
    """From the singleton partition every node takes its best
    neighbor: gain(u->v) = 1/m - k_u*k_v/(2m^2), ties to smaller id."""
    from phenobert_spark.operators.kg_metrics import refine_communities

    edges = spark.createDataFrame(_TRI2, "src string, dst string")
    nodes = sorted({x for e in _TRI2 for x in e})
    com = spark.createDataFrame(
        [(n, n) for n in nodes], "node string, community string"
    )
    out = {r.node: r for r in refine_communities(edges, com).collect()}
    assert set(out) == set(nodes)
    # a (deg 2): neighbors b (deg 2, gain 10/98) beats c (deg 3, 8/98)
    assert out["a"].community_new == "b"
    assert out["a"].gain == pytest.approx(round(10 / 98, 9), abs=1e-12)
    # c (deg 3): a and b tie at 8/98 -> smaller community id wins
    assert out["c"].community_new == "a"
    assert out["c"].gain == pytest.approx(round(8 / 98, 9), abs=1e-12)
    # every node's old community is itself and the move has gain > 0
    assert all(r.community_old == r.node and r.gain > 0 for r in out.values())


def test_refine_communities_stable_partition_stays(spark):
    """With the natural two-clique partition, staying beats every
    move for every node (one sweep is a fixed point)."""
    from phenobert_spark.operators.kg_metrics import refine_communities

    edges = spark.createDataFrame(_TRI2, "src string, dst string")
    com = spark.createDataFrame(
        [(n, "X") for n in "abc"] + [(n, "Y") for n in "def"],
        "node string, community string",
    )
    out = refine_communities(edges, com).collect()
    assert len(out) == 6
    assert all(r.community_new == r.community_old for r in out)
    # the bridge node c: stay gain = 2/7 - 3*(7-3)/98 = 16/98
    c = next(r for r in out if r.node == "c")
    assert c.gain == pytest.approx(round(16 / 98, 9), abs=1e-12)


def test_refine_communities_empty_edges_raises(spark):
    from phenobert_spark.operators.kg_metrics import refine_communities

    e = spark.createDataFrame([], "src string, dst string")
    c = spark.createDataFrame([("a", "a")], "node string, community string")
    with pytest.raises(ValueError, match="edge"):
        refine_communities(e, c)


# op(edges) for every graph operator, and the rows it must return on a
# zero-row (src, dst) table
_GRAPH_OPS = {
    "pagerank": (lambda e: km.pagerank(e, iters=2), []),
    "personalized_pagerank": (
        lambda e: km.personalized_pagerank(
            e, e.sparkSession.createDataFrame([("a",)], "node string"), iters=2
        ),
        [("a", pytest.approx(0.15, abs=1e-12))],
    ),
    "label_propagation": (lambda e: km.label_propagation(e, iters=2), []),
    "triangle_count": (km.triangle_count, []),
    "edge_triangle_support": (km.edge_triangle_support, []),
    "k_core": (lambda e: km.k_core(e, k=2, iters=2), []),
    "k_truss": (lambda e: km.k_truss(e, k=3), []),
    "link_prediction": (km.link_prediction, []),
    "graph_summary": (km.graph_summary, [(0, 0, None, None, None)]),
    "hits": (lambda e: km.hits(e, iters=2), []),
    "wl_refinement": (lambda e: km.wl_refinement(e, rounds=1), []),
    "hyperball": (lambda e: km.hyperball(e, radius=1), []),
    "connected_components": (connected_components, []),
    "transitive_closure": (
        lambda e: transitive_closure(
            e.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
        ),
        [],
    ),
}


# operators that still take a NULL endpoint for a node
_NULL_IS_NODE = {"pagerank", "personalized_pagerank", "transitive_closure"}


@pytest.mark.parametrize("name", list(_GRAPH_OPS))
def test_graph_operator_on_empty_edge_table(spark, name):
    """A zero-row edge table, and one whose every edge has a NULL
    endpoint, give a well-typed empty (or all-NULL summary) result with
    the same schema as a non-empty graph, not an exception."""
    op, want = _GRAPH_OPS[name]
    small = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    schema = op(small).schema
    tables = [[]] if name in _NULL_IS_NODE else [[], [("a", None), ("b", None)]]
    for rows in tables:
        got = op(spark.createDataFrame(rows, "src string, dst string"))
        assert [tuple(r) for r in got.collect()] == want, rows
        assert got.schema == schema
