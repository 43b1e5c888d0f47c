"""Seeded input generator for the KG-construction benchmark.

Writes, under one output directory, everything a benchmark run feeds
the program:

* ``reference/phenobert/models/train.txt`` and
  ``reference/phenobert/models/train_source/train_{0..24}.txt`` -- a
  synthetic ontology in the reference's shipped TSV format
  (``surface<TAB>HP:id`` rows), loaded unchanged by
  ``phenobert_spark.ontology.load_reference_ontology`` once
  ``PHENOBERT_REFERENCE_ROOT`` points at ``reference/``;
* ``documents(repo, path, commit, lang, content)`` parquet snapshots
  with their gold ``(doc_id, hpo_id, start, end, mention)`` rows;
* for ``build_clinical`` a second (v2) snapshot and its gold, which the
  traced run ingests with ``annotate_delta``;
* for ``kg_report`` a triples table written straight from gold.

The program never sees this module: it reads only the files.

Why the text is built the way it is (so that gold follows the
pipeline's maximal-span semantics rather than guessing at them):

* Tokens are pseudo-words in three classes told apart by their first
  letter: concept *heads*, *modifiers* (shared between surfaces and
  filler prose) and *filler* words that occur in no surface. Suffix
  rules (lemma, stem, spelling folds) never change a first letter, so
  no filler k-mer can ever equal a dictionary key: every surface holds
  at least one head, and heads never occur in filler.
* Modifiers do occur in filler sentences, so vocabulary pruning keeps
  a realistic share of k-mers that then miss the dictionary.
* Every mention sits in a clause whose other words are filler or
  stopwords, so the longest k-mer of the clause is the mention itself.
* Simplified sorted-bag keys are unique per concept, so a verbatim
  surface resolves to exactly the concept it was drawn from.
* Synonym surfaces swap a modifier for its partner from a fixed table;
  each pair recurs across many concepts, so the ontology's mined
  substitution tier is populated as it is on the real HPO.

perfbench/run.py calls :func:`generate` in-process.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes ---------------------------------------------------------------
# Ontology: the real HPO subtree the reference ships has ~17k concepts
# and 48,600 surface rows in 25 Layer-1 files; match those counts so
# ontology load, dictionary build and broadcast sizes are HPO-scale.
N_CONCEPTS = 17_000
N_SURFACES = 48_600
N_L1 = 25
MULTI_PARENT_SHARE = 0.08    # concepts listed in two Layer-1 files
N_HEADS = 7_000
N_MODIFIERS = 1_200
N_FILLER = 3_000
N_SYN_PAIRS = 60             # modifier swap pairs (mined tier, >=10 uses each)

# Documents: 2.7 MB of notes, the content size of the sizing prototype;
# one cold build of it takes ~25 s on 4 cores (perfbench/README.md has
# the run-budget arithmetic).
CLINICAL_DOCS = 2_400        # ~1 KB clinical-style notes
CLINICAL_DOC_BYTES = 1_000
CHUNK_TARGET_BYTES = 4_096   # PipelineConfig default (jobs/annotate_corpus.py)
DELTA_CHANGED_SHARE = 0.004  # < 1% of docs modified + added + removed
KG_DOCS = 300                # gold-only triples table for kg_report
KG_CONCEPTS = 600            # kg_report's ontology (graph sized to the run)

SYLL_V = "aeiou"
HEAD_C0 = "bdgkptvz"         # first letter of concept heads
MOD_C0 = "fhlmnrw"           # first letter of shared modifiers
FILL_C0 = "cjsy"             # first letter of filler words
INNER_C = "bdfgklmnprstvz"
STOPWORDS = ("of", "the", "in", "with", "at", "on", "by", "from", "was", "is",
             "has", "had", "for", "a", "an", "this", "his", "her", "their")
LEAD_INS = ("with", "of", "for", "by", "at")
NEGATION = ("no", "not", "never")
HEAD_SUFFIXES = ("", "", "", "ia", "osis", "al", "ic", "itis", "oma", "ism")
# pseudo-words that would collide with a negation cue, clause splitter or
# stopword of the pipeline's tokenizer
BANNED = frozenset({"before", "negative", "never", "lower", "normal", "fewer",
                    "barely", "whether", "neither", "either", "while", "which"})
REPO = "perfbench"
COMMIT = "0" * 40


class _Zipf:
    """Draw indices 0..n-1 with P(i) proportional to 1/(i+1)^s."""

    def __init__(self, n: int, s: float = 1.07):
        acc = 0.0
        self.cum = []
        for i in range(n):
            acc += 1.0 / (i + 1) ** s
            self.cum.append(acc)
        self.total = acc

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.total)


def _words(rng: random.Random, first: str, n: int, min_syll: int,
           suffixes: tuple[str, ...] = ("",), taken: set[str] | None = None) -> list[str]:
    taken = set() if taken is None else taken
    out: list[str] = []
    while len(out) < n:
        w = rng.choice(first) + rng.choice(SYLL_V)
        for _ in range(rng.randint(min_syll - 1, min_syll + 1)):
            w += rng.choice(INNER_C) + rng.choice(SYLL_V)
        w += rng.choice(suffixes)
        if len(w) >= 5 and w not in taken and w not in BANNED:
            taken.add(w)
            out.append(w)
    return out


class Ontology:
    """Generated concepts, their surfaces and the key map that keeps
    every simplified sorted-bag key unique to one concept."""

    def __init__(self, seed: int, n_concepts: int = N_CONCEPTS):
        rng = random.Random(f"onto-{seed}-{n_concepts}")
        n_surfaces = n_concepts * N_SURFACES // N_CONCEPTS
        taken: set[str] = set()
        self.heads = _words(rng, HEAD_C0, N_HEADS, 2, HEAD_SUFFIXES, taken)
        self.mods = _words(rng, MOD_C0, N_MODIFIERS, 2, ("", "ed", "al", "ous"), taken)
        self.filler = _words(rng, FILL_C0, N_FILLER, 2, ("", "s", "ing", "ed"), taken)
        self.head_z = _Zipf(N_HEADS, 0.9)
        self.mod_z = _Zipf(N_MODIFIERS, 1.0)
        self.fill_z = _Zipf(N_FILLER, 1.05)
        pair_mods = rng.sample(self.mods[:400], 2 * N_SYN_PAIRS)
        self.syn = {}
        for a, b in zip(pair_mods[::2], pair_mods[1::2]):
            self.syn[a] = b
            self.syn[b] = a
        self.key2hpo: dict[str, str] = {}
        self.surfaces: dict[str, list[str]] = {}
        ids = rng.sample(range(1_000, 4_000_000), n_concepts)  # clear of HP:0000118
        self.hpo_ids = [f"HP:{i:07d}" for i in sorted(ids)]
        for h in self.hpo_ids:
            name = self._fresh(rng, h)
            self.surfaces[h] = [name]
        extra = n_surfaces - n_concepts
        while extra > 0:
            h = self.hpo_ids[rng.randrange(n_concepts)]
            s = self._synonym(rng, h)
            if s is not None:
                self.surfaces[h].append(s)
                extra -= 1
        self.l1 = {}
        for h in self.hpo_ids:
            homes = {rng.randrange(N_L1)}
            if rng.random() < MULTI_PARENT_SHARE:
                homes.add(rng.randrange(N_L1))
            self.l1[h] = sorted(homes)
        # mention frequencies: Zipf over a seeded order of the concepts
        self.hpo_z = _Zipf(n_concepts, 0.8)
        self.hpo_order = self.hpo_ids[:]
        rng.shuffle(self.hpo_order)

    @staticmethod
    def key(surface: str) -> str:
        toks = [t for t in surface.lower().split() if t not in STOPWORDS]
        return " ".join(sorted(toks))

    def _claim(self, surface: str, hpo: str) -> bool:
        k = self.key(surface)
        if self.key2hpo.get(k, hpo) != hpo:
            return False
        self.key2hpo[k] = hpo
        return True

    def _fresh(self, rng: random.Random, hpo: str) -> str:
        while True:
            n_heads = 1 if rng.random() < 0.6 else (2 if rng.random() < 0.9 else 3)
            heads = [self.heads[self.head_z(rng)] for _ in range(n_heads)]
            mods = [self.mods[self.mod_z(rng)] for _ in range(rng.choice((0, 1, 1, 2)))]
            if len(set(heads + mods)) < len(heads) + len(mods):
                continue
            if len(heads) >= 2 and rng.random() < 0.3:
                toks = mods + [heads[0], "of", "the"] + heads[1:]
            else:
                toks = mods + heads
            s = " ".join(toks)
            if self._claim(s, hpo):
                return s[0].upper() + s[1:]

    def _synonym(self, rng: random.Random, hpo: str) -> str | None:
        base = self.surfaces[hpo][0].lower().split()
        r = rng.random()
        if r < 0.45:
            idx = [i for i, t in enumerate(base) if t in self.syn]
            if not idx:
                return None
            i = rng.choice(idx)
            toks = base[:i] + [self.syn[base[i]]] + base[i + 1:]
        elif r < 0.6:
            toks = [t for t in base if t not in STOPWORDS]
            toks = toks[-1:] + toks[:-1] if len(toks) > 1 else toks + [self.mods[self.mod_z(rng)]]
        else:
            return self._fresh(rng, hpo).lower()
        s = " ".join(toks)
        if s in (x.lower() for x in self.surfaces[hpo]) or not self._claim(s, hpo):
            return None
        return s

    def write(self, root: str) -> None:
        models = os.path.join(root, "phenobert", "models")
        src = os.path.join(models, "train_source")
        os.makedirs(src, exist_ok=True)
        by_l1: dict[int, list[str]] = {i: [] for i in range(N_L1)}
        with open(os.path.join(models, "train.txt"), "w", encoding="utf-8") as fh:
            for h in self.hpo_ids:
                for s in self.surfaces[h]:
                    fh.write(f"{s}\t{h}\n")
                    for i in self.l1[h]:
                        by_l1[i].append(f"{s}\t{h}\n")
        for i, rows in by_l1.items():
            with open(os.path.join(src, f"train_{i}.txt"), "w", encoding="utf-8") as fh:
                fh.writelines(rows)

    # -- text ---------------------------------------------------------------

    def concept(self, rng: random.Random) -> str:
        return self.hpo_order[self.hpo_z(rng)]

    def filler_clause(self, rng: random.Random, n: int) -> str:
        out = []
        for _ in range(n):
            r = rng.random()
            if r < 0.55:
                out.append(self.filler[self.fill_z(rng)])
            elif r < 0.8:
                out.append(self.mods[self.mod_z(rng)])
            else:
                out.append(rng.choice(STOPWORDS + ("and",)))
        return " ".join(out)

    def lead_in(self, rng: random.Random) -> str:
        toks = [self.filler[self.fill_z(rng)] for _ in range(rng.randint(1, 3))]
        return " ".join(toks + [rng.choice(LEAD_INS)])


class _Doc:
    def __init__(self):
        self.parts: list[str] = []
        self.pos = 0
        self.gold: list[tuple[int, int, str, str]] = []

    def emit(self, s: str) -> None:
        self.parts.append(s)
        self.pos += len(s)

    def mention(self, surface: str, hpo: str, negated: bool) -> None:
        start = self.pos
        self.emit(surface)
        if not negated:
            self.gold.append((start, self.pos, surface, hpo))

    @property
    def content(self) -> str:
        return "".join(self.parts)


def _clinical_text(onto: Ontology, rng: random.Random, target: int) -> _Doc:
    """Note-style prose: short paragraphs of sentences; about one in
    three sentences carries one mention (one in eight of them negated)."""
    d = _Doc()
    while d.pos < target:
        for _ in range(rng.randint(2, 5)):
            r = rng.random()
            if r < 0.35:
                hpo = onto.concept(rng)
                surface = rng.choice(onto.surfaces[hpo])
                if rng.random() < 0.4:
                    surface = surface.lower()
                neg = rng.random() < 0.125
                d.emit(onto.lead_in(rng).capitalize() + " ")
                if neg:
                    d.emit(rng.choice(NEGATION) + " ")
                d.mention(surface, hpo, neg)
                if rng.random() < 0.5:
                    d.emit(", " + onto.filler_clause(rng, rng.randint(3, 8)))
                d.emit(". ")
            else:
                d.emit(onto.filler_clause(rng, rng.randint(4, 12)).capitalize() + ". ")
        d.emit("\n")
    return d


def _write_docs(path: str, docs: list[_Doc], prefix: str) -> list[tuple]:
    """Write the documents table; return gold rows keyed by doc_id."""
    contents = [d.content for d in docs]
    table = pa.table(
        {
            "repo": [REPO] * len(docs),
            "path": [f"{prefix}/note_{i:06d}.txt" for i in range(len(docs))],
            "commit": [COMMIT] * len(docs),
            "lang": ["en"] * len(docs),
            "content": contents,
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    gold = []
    for d, c in zip(docs, contents):
        doc_id = hashlib.sha256(c.encode("utf-8")).hexdigest()
        gold.extend((doc_id, h, s, e, m) for s, e, m, h in d.gold)
    return gold


def _write_gold(path: str, gold: list[tuple]) -> None:
    cols = list(zip(*gold)) if gold else [[], [], [], [], []]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.string()),
                "hpo_id": pa.array(cols[1], pa.string()),
                "start": pa.array(cols[2], pa.int32()),
                "end": pa.array(cols[3], pa.int32()),
                "mention": pa.array(cols[4], pa.string()),
            }
        ),
        path,
    )


def _clinical_docs(onto: Ontology, rng: random.Random, n: int) -> list[_Doc]:
    return [
        _clinical_text(onto, rng, int(CLINICAL_DOC_BYTES * rng.uniform(0.6, 1.4)))
        for _ in range(n)
    ]


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return a manifest of what was written (paths and sizes)."""
    onto = Ontology(seed, KG_CONCEPTS if workload == "kg_report" else N_CONCEPTS)
    ref = os.path.join(out, "reference")
    onto.write(ref)
    rng = random.Random(f"{workload}-{seed}")
    info = {"reference_root": ref, "workload": workload, "seed": seed}
    if workload == "build_clinical":
        docs = _clinical_docs(onto, rng, CLINICAL_DOCS)
    elif workload == "kg_report":
        docs = _clinical_docs(onto, rng, KG_DOCS)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    gold = _write_docs(os.path.join(out, "docs"), docs, "v1")
    _write_gold(os.path.join(out, "gold.parquet"), gold)
    info.update(
        docs=os.path.join(out, "docs"),
        gold=os.path.join(out, "gold.parquet"),
        n_docs=len(docs),
        content_bytes=sum(d.pos for d in docs),
        n_gold=len(gold),
    )
    if workload == "build_clinical":
        # the v2 snapshot: the traced run measures the delta layer on it
        # and checks the delta graph against a fresh build
        n_change = max(3, int(len(docs) * DELTA_CHANGED_SHARE))
        idx = rng.sample(range(len(docs)), 2 * n_change)
        modified, removed = set(idx[:n_change]), set(idx[n_change:])
        v2 = []
        for i, d in enumerate(docs):
            if i in removed:
                continue
            v2.append(_clinical_text(onto, rng, d.pos) if i in modified else d)
        v2 += _clinical_docs(onto, rng, n_change)
        gold2 = _write_docs(os.path.join(out, "docs_v2"), v2, "v2")
        _write_gold(os.path.join(out, "gold_v2.parquet"), gold2)
        info.update(
            docs_v2=os.path.join(out, "docs_v2"),
            gold_v2=os.path.join(out, "gold_v2.parquet"),
            n_docs_v2=len(v2),
            changed_docs=3 * n_change,
        )
    if workload == "kg_report":
        triples = os.path.join(out, "triples")
        os.makedirs(triples, exist_ok=True)
        g = sorted(set(gold))
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in g],
                    "pred": ["has_phenotype"] * len(g),
                    "hpo_id": [r[1] for r in g],
                    "start": pa.array([r[2] for r in g], pa.int32()),
                    "end": pa.array([r[3] for r in g], pa.int32()),
                    "mention": [r[4] for r in g],
                    "score": [1.0] * len(g),
                    "negated": [False] * len(g),
                }
            ),
            os.path.join(triples, "part-0.parquet"),
        )
        info.update(triples=triples, n_triples=len(g))
    return info

