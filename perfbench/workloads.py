"""The benchmark workloads.

Each workload loads its cached inputs into a session, runs one checked
pass, and runs one traced repetition that times its layers from outside.

Lazy layers are timed as cumulative noop-sink prefixes composed only of
public layer functions, in the order ``construct_kg`` composes them:

    scan -> extract_mention_occurrences -> resolve_ladder_inline
         -> (doc_id, entity_id) dedup -> resolved_to_triples

plus ``media_to_triples`` on its own.  A layer's self time is the
difference between consecutive prefixes.  Eager layers
(``CheckpointedRun.stage``, ``transitive_closure``,
``connected_components``) are timed as direct calls.  When ``construct_kg``
changes which functions it composes, these prefixes have to follow in a
benchmark change of their own.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark import dims
from nexus_forge_spark.functions.itermetrics import RoundMetrics
from nexus_forge_spark.operators import canonicalize, ontology
from nexus_forge_spark.operators import mentions as M
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.operators import triples as T
from nexus_forge_spark.plans import pipeline
from nexus_forge_spark.plans.checkpoint import CheckpointedRun

from perfbench.inputs import DATA_DIR
from perfbench.ledger import STAGE_COUNTERS, median

# input sizes: "bench" is what the benchmark measures, "tiny" is the smoke
# mode its own tests use
SIZES = {
    "bench": {
        "kg_build": {"docs": 40000},
        "kg_fixpoint": {"depth": 4, "chains": 64, "chain_len": 8},
    },
    "tiny": {
        "kg_build": {"docs": 300},
        "kg_fixpoint": {"depth": 3, "chains": 4, "chain_len": 10},
    },
}

LAYERS = [
    "sources",
    "mentions",
    "resolve",
    "pipeline",
    "triples",
    "checkpoint",
    "ontology",
    "canonicalize",
]

LAYER_METRICS = [
    "sources.scan_s",
    "sources.rows",
    "mentions.self_s",
    "mentions.rows_out",
    "mentions.cpu_ratio",
    "resolve.self_s",
    "resolve.hit_ratio",
    "resolve.cpu_ratio",
    "resolve.index_build_s",
    "resolve.index_rows",
    "pipeline.dedup_self_s",
    "pipeline.dedup_rows_in",
    "pipeline.dedup_rows_out",
    "pipeline.dedup_shuffle_write_bytes",
    "triples.ann_self_s",
    "triples.media_s",
    "triples.media_rows",
    "checkpoint.write_s",
    "checkpoint.resume_s",
    "checkpoint.readback_s",
    "checkpoint.bytes_written",
    "checkpoint.bytes_per_triple",
    "checkpoint.batches_skipped_on_resume",
    "ontology.closure_s",
    "ontology.rounds",
    "ontology.round_s_p50",
    "canonicalize.cc_s",
    "trace.wall_s",
    "trace.full_traced_s",
    "trace.overhead_s",
    "trace.layer_sum_s",
    "trace.layer_sum_ratio",
] + [f"{layer}.{c}" for layer in LAYERS for c in ("jobs", *STAGE_COUNTERS)]

# the traced run's CheckpointedRun: parts, batches, batches before the stop
CHECKPOINT_PARTS = 4
CHECKPOINT_BATCHES = 2
CHECKPOINT_STOP_AFTER = 1


class CheckFailed(RuntimeError):
    """A pass produced output that differs from the expected output."""


def fingerprint(df: DataFrame) -> dict:
    """Triple count plus the order-independent md5 sums of
    ``inputs.triples_fingerprint``, computed in one Spark action."""
    digest = F.md5(F.concat_ws("\t", "subj", "pred", "obj"))

    def word(start: int):
        return F.sum(F.conv(F.substring(digest, start, 8), 16, 10).cast("long"))

    row = df.agg(F.count(F.lit(1)), word(1), word(9)).first()
    return {"triples": int(row[0]), "h1": int(row[1] or 0), "h2": int(row[2] or 0)}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(label: str, got: dict, want: dict) -> None:
    diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if diff:
        raise CheckFailed(f"{label}: got != expected for {diff}")


def _sub(a: dict, b: dict) -> dict:
    return {k: a[k] - b[k] for k in a}


def _add(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Workload:
    name = ""
    # checked but untimed passes between the set-ups and measurement; the
    # JIT keeps compiling for some passes after the three set-up passes
    # (kg_build's pass times are flat from the fourth pass on, 4-cpu box)
    warmup_passes = 1

    def __init__(self, input_path: str, expected: dict, pin: dict | None):
        self.path = input_path
        self.expected = expected
        # a pinned fingerprint must agree with the independent expectation;
        # a mismatch means the generator or the oracle drifted
        if pin is not None:
            _check(f"{self.name} pin", expected, pin)

    @property
    def items(self) -> int:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark) -> None:
        raise NotImplementedError

    def trace(self, spark, ledger) -> dict[str, float]:
        raise NotImplementedError

    def layer_counts(self, spark) -> dict[str, float]:
        return {}


class KgBuild(Workload):
    """construct_kg over a seeded corpus, counted and fingerprinted.  The
    traced run also writes the build through CheckpointedRun, stops it half
    way, resumes it in a fresh run on the same directory and reads it back."""

    name = "kg_build"

    def __init__(self, *args):
        super().__init__(*args)
        self.work = os.path.join(DATA_DIR, "work", "kg_build")
        self.stage_dir = os.path.join(self.work, "stage=triples")
        self.manifest = os.path.join(self.work, "_manifest", "triples.jsonl")

    @property
    def items(self) -> int:
        return self.expected["docs"]

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.path, "documents"))

    def _want(self) -> dict:
        return {k: self.expected[k] for k in ("triples", "h1", "h2")}

    def run_pass(self, spark) -> None:
        self.uninterrupted = fingerprint(pipeline.construct_kg(self.docs))
        _check("kg_build", self.uninterrupted, self._want())

    def _frames(self, spark) -> dict[str, DataFrame]:
        alias = R.build_alias_table(
            dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS
        )
        occ = M.extract_mention_occurrences(self.docs)
        res = R.resolve_ladder_inline(occ, alias, keys=["doc_id", "mention"])
        ann = res.select("doc_id", "entity_id").dropDuplicates(["doc_id", "entity_id"])
        return {
            "sources": self.docs,
            "mentions": occ,
            "resolve": res,
            "pipeline": ann,
            "triples": T.resolved_to_triples(ann),
            "media": T.media_to_triples(self.docs, dedup=True),
            "index": R.alias_substring_index(alias),
        }

    def trace(self, spark, ledger) -> dict[str, float]:
        with ledger.region("full") as r:
            self.run_pass(spark)
        out = self._trace_prefixes(spark, ledger)
        out["trace.full_traced_s"] = r["wall_s"]
        out.update(self._trace_checkpoint(spark, ledger))
        return out

    def _trace_prefixes(self, spark, ledger) -> dict[str, float]:
        frames = self._frames(spark)
        regions = {}
        for key, df in frames.items():
            with ledger.region(key) as r:
                _noop(df)
            regions[key] = r
        wall = {k: r["wall_s"] for k, r in regions.items()}
        cnt = {k: ledger.counters(r["group"]) for k, r in regions.items()}
        order = ["sources", "mentions", "resolve", "pipeline", "triples"]
        self_cnt = {order[0]: cnt[order[0]]}
        self_wall = {order[0]: wall[order[0]]}
        for prev, cur in zip(order, order[1:]):
            self_cnt[cur] = _sub(cnt[cur], cnt[prev])
            self_wall[cur] = wall[cur] - wall[prev]
        self_cnt["triples"] = _add(self_cnt["triples"], cnt["media"])
        out = {
            "sources.scan_s": self_wall["sources"],
            "mentions.self_s": self_wall["mentions"],
            "resolve.self_s": self_wall["resolve"],
            "resolve.index_build_s": wall["index"],
            "pipeline.dedup_self_s": self_wall["pipeline"],
            "pipeline.dedup_shuffle_write_bytes": self_cnt["pipeline"]["shuffle_write_bytes"],
            "triples.ann_self_s": self_wall["triples"],
            "triples.media_s": wall["media"],
            "mentions.cpu_ratio": _ratio(
                self_cnt["mentions"]["cpu_s"], self_cnt["mentions"]["run_s"]
            ),
            "resolve.cpu_ratio": _ratio(
                self_cnt["resolve"]["cpu_s"], self_cnt["resolve"]["run_s"]
            ),
            # the full pass runs the same two branches, so their prefixes
            # are the layer sum
            "trace.layer_sum_s": wall["triples"] + wall["media"],
        }
        for layer in order:
            for c, v in self_cnt[layer].items():
                out[f"{layer}.{c}"] = v
        return out

    def _stage(self, spark, max_batches: int | None) -> DataFrame:
        run = CheckpointedRun(spark, self.work, CHECKPOINT_PARTS, CHECKPOINT_BATCHES)
        return run.stage(
            "triples", pipeline.construct_kg(self.docs), "doc_id", max_batches=max_batches
        )

    def _trace_checkpoint(self, spark, ledger) -> dict[str, float]:
        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        with ledger.region("checkpoint.write") as w:
            self._stage(spark, CHECKPOINT_STOP_AFTER)
        before = self._manifest_lines()
        with ledger.region("checkpoint.resume") as r:
            back = self._stage(spark, None)
        # every partition a batch writes appends one manifest line, so the
        # lines the resume appended are the partitions it (re)computed
        per_batch = max(1, CHECKPOINT_PARTS // CHECKPOINT_BATCHES)
        skipped = (CHECKPOINT_PARTS - (self._manifest_lines() - before)) // per_batch
        _check(
            "kg_build resume", {"batches_skipped": skipped},
            {"batches_skipped": CHECKPOINT_STOP_AFTER},
        )
        with ledger.region("checkpoint.readback") as b:
            got = fingerprint(back)
        _check("kg_build resumed vs expected", got, self._want())
        _check("kg_build resumed vs uninterrupted", got, self.uninterrupted)
        nbytes = 0
        for root, _dirs, files in os.walk(self.stage_dir):
            nbytes += sum(
                os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
            )
        cnt = _add(
            _add(ledger.counters(w["group"]), ledger.counters(r["group"])),
            ledger.counters(b["group"]),
        )
        return {
            **{f"checkpoint.{c}": v for c, v in cnt.items()},
            "checkpoint.write_s": w["wall_s"],
            "checkpoint.resume_s": r["wall_s"],
            "checkpoint.readback_s": b["wall_s"],
            "checkpoint.bytes_written": float(nbytes),
            "checkpoint.bytes_per_triple": nbytes / got["triples"],
            "checkpoint.batches_skipped_on_resume": float(skipped),
        }

    def _manifest_lines(self) -> int:
        with open(self.manifest, encoding="utf-8") as f:
            return sum(1 for _ in f)

    def layer_counts(self, spark) -> dict[str, float]:
        frames = self._frames(spark)
        n = {k: float(df.count()) for k, df in frames.items()}
        return {
            "sources.rows": n["sources"],
            "mentions.rows_out": n["mentions"],
            "resolve.hit_ratio": _ratio(n["resolve"], n["mentions"]),
            "resolve.index_rows": n["index"],
            "pipeline.dedup_rows_in": n["resolve"],
            "pipeline.dedup_rows_out": n["pipeline"],
            "triples.media_rows": n["media"],
        }


class TimedRounds(RoundMetrics):
    """RoundMetrics that also timestamps every recorded round."""

    def __init__(self):
        super().__init__()
        self.stamps: list[float] = []

    def record(self, op: str, round_idx: int, **counts: int) -> None:
        self.stamps.append(time.perf_counter())
        super().record(op, round_idx, **counts)


class KgFixpoint(Workload):
    """transitive_closure over a 4-ary class tree, then
    connected_components over disjoint sameAs chains."""

    name = "kg_fixpoint"
    # its ~70 small jobs a pass are driver-bound: until the JIT's backlog
    # drains (about the tenth pass in the JVM on a 4-cpu box) the compiler
    # threads compete with each job's critical path, so a busy host slows
    # those passes ~30% and the later ones ~10%; measure the later ones
    warmup_passes = 7

    @property
    def items(self) -> int:
        return self.expected["tree_edges"] + self.expected["chain_edges"]

    def load(self, spark) -> None:
        self.tree = spark.read.parquet(os.path.join(self.path, "tree.parquet"))
        self.chains = spark.read.parquet(os.path.join(self.path, "chains.parquet"))

    def _closure(self, metrics=None) -> None:
        pairs = ontology.transitive_closure(self.tree, metrics=metrics).count()
        _check("kg_fixpoint closure", {"pairs": pairs}, {"pairs": self.expected["closure_pairs"]})

    def _components(self) -> None:
        row = (
            canonicalize.connected_components(self.chains)
            .agg(F.count(F.lit(1)), F.countDistinct("canonical_id"))
            .first()
        )
        _check(
            "kg_fixpoint components",
            {"nodes": row[0], "components": row[1]},
            {"nodes": self.expected["chain_nodes"], "components": self.expected["components"]},
        )

    def run_pass(self, spark) -> None:
        self._closure()
        self._components()

    def trace(self, spark, ledger) -> dict[str, float]:
        with ledger.region("full") as full:
            self.run_pass(spark)
        rounds = TimedRounds()
        with ledger.region("ontology") as o:
            start = time.perf_counter()
            self._closure(rounds)
        with ledger.region("canonicalize") as c:
            self._components()
        stamps = [start, *rounds.stamps]
        out = {
            "ontology.closure_s": o["wall_s"],
            "ontology.rounds": float(len(rounds.stamps)),
            "ontology.round_s_p50": median([b - a for a, b in zip(stamps, stamps[1:])]),
            "canonicalize.cc_s": c["wall_s"],
            "trace.full_traced_s": full["wall_s"],
            "trace.layer_sum_s": o["wall_s"] + c["wall_s"],
        }
        for layer, r in (("ontology", o), ("canonicalize", c)):
            out.update({f"{layer}.{k}": v for k, v in ledger.counters(r["group"]).items()})
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgFixpoint)}
