"""Seeded inputs for the benchmark workloads, cached on disk, plus the
expected outputs the benchmark checks every pass against.

Inputs are cached under ``perfbench/.data/inputs`` keyed on the workload's
size parameters, the seed and a hash of the generator sources (the
program's ``sources/datagen.py`` and this file), so an edit to either
regenerates.  Generation is never inside a timed region.

Expected outputs come from two places that do not share code with the
program:

* documents -> triples: a pure-Python re-statement of ``construct_kg``'s
  documented semantics (1- and 2-gram mentions per text span, the
  exact-then-fuzzy resolve ladder over the ontology dictionary, set
  semantics per (doc, entity) and (doc, media ref));
* class tree closure and sameAs chains: closed forms of the generated
  shapes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data")

# distinct generator seed per workload
SEED_OFFSET = {"kg_build": 0, "kg_fixpoint": 1_000_003}

# parquet files per generated corpus (fixed so that scan parallelism does
# not depend on the box)
DOC_FILES = 16


def _generator_token() -> str:
    from nexus_forge_spark.sources import datagen

    h = hashlib.md5()
    for path in (datagen.__file__, os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def input_dir(workload: str, params: dict, seed: int) -> str:
    parts = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    return os.path.join(
        DATA_DIR, "inputs", f"{workload}-{parts}-s{seed}-{_generator_token()}"
    )


def ensure_inputs(spark, workload: str, params: dict, seed: int) -> tuple[str, dict]:
    """Generate (once) and return (input directory, expected-output record)."""
    path = input_dir(workload, params, seed)
    marker = os.path.join(path, "expected.json")
    if not os.path.exists(marker):
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        corpus_seed = seed + SEED_OFFSET[workload]
        if workload == "kg_fixpoint":
            expected = _write_graphs(path, params, corpus_seed)
        else:
            expected = _write_documents(spark, path, params["docs"], corpus_seed)
        with open(marker + ".tmp", "w", encoding="utf-8") as f:
            json.dump(expected, f)
        os.replace(marker + ".tmp", marker)
    with open(marker, encoding="utf-8") as f:
        return path, json.load(f)


# --------------------------------------------------------------- documents


def _write_documents(spark, path: str, n_docs: int, seed: int) -> dict:
    from nexus_forge_spark.sources import synthesize_documents

    docs_path = os.path.join(path, "documents")
    synthesize_documents(spark, n_docs, seed=seed, num_partitions=DOC_FILES).write.parquet(
        docs_path
    )
    return {"docs": n_docs, **triples_fingerprint(expected_triples(_read_spans(docs_path)))}


def _read_spans(docs_path: str) -> list[tuple]:
    """(doc_id, kind, text, media_ref) of every span of a corpus, in order."""
    table = pq.read_table(docs_path)
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    doc_ids = table.column("doc_id").to_pylist()
    return list(
        zip(
            [doc_ids[i] for i in pc.list_parent_indices(spans).to_pylist()],
            flat.field("kind").to_pylist(),
            flat.field("text").to_pylist(),
            flat.field("media_ref").to_pylist(),
        )
    )


def triple_digest(subj: str, pred: str, obj: str) -> str:
    """md5 hex of one triple, as ``workloads.fingerprint`` computes it in Spark."""
    return hashlib.md5(f"{subj}\t{pred}\t{obj}".encode()).hexdigest()


def triples_fingerprint(triples) -> dict:
    """Order-independent fingerprint of a triple set: its size and the sums
    of the two leading 32-bit words of each triple's md5."""
    n = h1 = h2 = 0
    for t in triples:
        d = triple_digest(*t)
        n += 1
        h1 += int(d[:8], 16)
        h2 += int(d[8:16], 16)
    return {"triples": n, "h1": h1, "h2": h2}


def _alias_rows() -> list[tuple[str, int, int, int, str]]:
    """(entity_id, dict_idx, score_len, prop_order, alias) of the ontology
    dictionary: every present match property of every live term."""
    from nexus_forge_spark import dims, schemas

    names = [f.name for f in schemas.ONTOLOGY_TERMS.fields]
    out = []
    for dict_idx, row in enumerate(dims.ONTOLOGY_ROWS):
        rec = dict(zip(names, row))
        if rec["deprecated"]:
            continue
        present = [rec[p] for p in dims.ONTOLOGY_MATCH_PROPS if rec[p] is not None]
        if not present:
            continue
        score_len = len(present[0])
        for order, prop in enumerate(dims.ONTOLOGY_MATCH_PROPS):
            if rec[prop] is not None:
                out.append((rec["id"], dict_idx, score_len, order, rec[prop]))
    return out


class _Ladder:
    """Mention string -> entity id under the exact-then-fuzzy ladder:
    a case-sensitive exact alias hit wins (lowest dictionary row, then
    property order); otherwise the alias containing the lowercased mention
    with the shortest scored label wins (then dictionary row, then
    property order); no containing alias means no entity."""

    def __init__(self):
        self.aliases = _alias_rows()
        self.entity = {a[1]: a[0] for a in self.aliases}
        self.memo: dict[str, str | None] = {}

    def __call__(self, mention: str) -> str | None:
        if mention not in self.memo:
            self.memo[mention] = self._resolve(mention)
        return self.memo[mention]

    def _resolve(self, mention: str) -> str | None:
        exact = [(d, o) for _, d, _, o, a in self.aliases if a == mention]
        if exact:
            return self.entity[min(exact)[0]]
        low = mention.lower()
        if not low:
            return None
        fuzzy = [(s, d, o) for _, d, s, o, a in self.aliases if low in a.lower()]
        if fuzzy:
            return self.entity[min(fuzzy)[1]]
        return None


def expected_triples(spans):
    """(doc_id, kind, text, media_ref) spans -> the set of (subj, pred, obj)
    triples."""
    from nexus_forge_spark.operators.triples import PRED_DISTRIBUTION, PRED_HAS_BODY

    ladder = _Ladder()
    out = set()
    for doc_id, kind, text, media_ref in spans:
        subj = "doc:" + doc_id
        if kind == "media":
            out.add((subj, PRED_DISTRIBUTION, media_ref))
            continue
        if kind != "text":
            continue
        toks = text.split(" ")
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for g in grams:
            ent = ladder(g)
            if ent is not None:
                out.add((subj, PRED_HAS_BODY, ent))
    return out


# ------------------------------------------------------------ graph shapes


def tree_closure_pairs(depth: int, arity: int = 4) -> int:
    """(node, ancestor) pairs of a complete tree: the sum of node depths."""
    return sum(d * arity**d for d in range(depth + 1))


def _write_graphs(path: str, params: dict, seed: int) -> dict:
    """A complete 4-ary class tree of ``depth`` levels below the root, and
    ``chains`` disjoint sameAs chains of ``chain_len`` nodes, all with
    distinct seeded random long ids."""
    rng = random.Random(seed)
    depth, chains, chain_len = params["depth"], params["chains"], params["chain_len"]
    n_tree = (4 ** (depth + 1) - 1) // 3
    ids = rng.sample(range(1, 1 << 48), n_tree + chains * chain_len)
    tree = ids[:n_tree]
    tree_edges = [(tree[i], tree[(i - 1) // 4]) for i in range(1, n_tree)]
    rng.shuffle(tree_edges)
    pq.write_table(
        pa.table({"child": [c for c, _ in tree_edges], "parent": [p for _, p in tree_edges]}),
        os.path.join(path, "tree.parquet"),
    )
    nodes = ids[n_tree:]
    chain_edges = []
    for c in range(chains):
        for j in range(chain_len - 1):
            a, b = nodes[c * chain_len + j], nodes[c * chain_len + j + 1]
            chain_edges.append((a, b) if rng.random() < 0.5 else (b, a))
    rng.shuffle(chain_edges)
    pq.write_table(
        pa.table({"a": [a for a, _ in chain_edges], "b": [b for _, b in chain_edges]}),
        os.path.join(path, "chains.parquet"),
    )
    return {
        "tree_nodes": n_tree,
        "tree_edges": len(tree_edges),
        "closure_pairs": tree_closure_pairs(depth),
        "chain_nodes": chains * chain_len,
        "chain_edges": len(chain_edges),
        "components": chains,
    }
