"""The benchmark's workloads.

Each workload is a closed loop with one client: the benchmark process runs
one operation (op) at a time. A workload has

- ``generate()``: write its seeded inputs (repeatable, cheap);
- ``prepare()``: build what its ops read (watermarked copies, reference
  outputs) and warm the engine up, untimed by the ops;
- ``ops()``: the fixed op list of one pass. ``Op.run`` is the timed
  call; ``Op.check`` judges its output afterwards, untimed;
- ``traced_pass(tracer)``: one pass with every layer call in a span,
  returning exactly the per-layer metrics named in ``layers``;
- ``notes``: facts about the run filled in by ``prepare`` (reference
  values and where they came from), printed with the run description.

The engine is driven only through public functions of
``operators.knn``, ``operators.graph``, ``operators.attacks``,
``operators.grouping``, ``watermark.tvp``, ``watermark.scpw``,
``watermark.tabularmark`` and through ``registry.QUERIES``; the TVP key
dims come from ``functions.hashing.key_dims``, as inside ``watermark.tvp``.
"""

from __future__ import annotations

import gc
import hashlib
import math
import os
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_database_watermarking_spark.functions.hashing import key_dims
from vector_database_watermarking_spark.operators import attacks, graph, grouping, knn
from vector_database_watermarking_spark.registry import QUERIES
from vector_database_watermarking_spark.watermark import scpw, tabularmark, tvp

import gen

#: ``compare/roubust.py:162`` of the reference
WATERMARK = "001010010101001010010"
L = len(WATERMARK)
D = 128
#: TVP's secret key: the key seed the tvp_* functions default to
KEY_DIMS = key_dims(D, 20)
KNN_K = 10
TVP_STRENGTH, TVP_TH = 0.7, 1.0
# SCPW runs at the TVP strength, not the compare grid's 0.54: at the
# benchmark's collection size a group holds ~n/21 vectors, and a 4%
# majority margin is then a couple of votes, inside the noise of a 50%
# deletion. The op's cost does not depend on the strength.
SCPW_STRENGTH, SCPW_TOP_K, SCPW_POSITION = 0.7, 20, 100
TM_NW, TM_P, TM_K, TM_POSITION = 100, 4.0, 40, 100

#: attack → proportion of rows attacked
ATTACKS = {"random_delete": 0.5, "adaptive_delete": 0.5, "random_modify": 0.3, "insertion": 0.5}
#: (scheme, attack) → BER the reference reaches at that proportion
#: (BASELINE.md; SCPW at n=10k from ROBUSTNESS.md). SCPW ignores the
#: accessibility index, so adaptive deletion is a random deletion to
#: it; neither insertion anchor exists for SCPW, so it takes TVP's.
REF_BER = {
    ("tvp", "random_delete"): 0.019,
    ("scpw", "random_delete"): 0.038,
    ("tvp", "adaptive_delete"): 0.0,
    ("scpw", "adaptive_delete"): 0.038,
    ("tvp", "random_modify"): 0.005,
    ("scpw", "random_modify"): 0.005,
    ("tvp", "insertion"): 0.0,
    ("scpw", "insertion"): 0.0,
}
#: BASELINE.md's tolerance: a cell passes within +0.1 BER of the anchor
BER_TOLERANCE = 0.1
SCHEMES = ("tvp", "scpw", "tabularmark")
#: the (scheme, attack) cells of one detect pass: TVP, the paper's
#: scheme, under every attack; SCPW at the compare grid's deletion
#: anchor; TabularMark under modification, where its z-test must hold
CELLS = (
    ("tvp", "random_delete"),
    ("tvp", "adaptive_delete"),
    ("tvp", "random_modify"),
    ("tvp", "insertion"),
    ("scpw", "random_delete"),
    ("tabularmark", "random_modify"),
)

#: the registry rows of the pipeline workload, one per cost shape: the
#: kNN graph and accessibility index behind an eager checkpoint, the
#: widest join tree, MinHash dedup closed by connected components, and
#: an iterative hierarchy walk. All run eager jobs in their build phase.
PIPELINE_QUERIES = (
    "g4_accessibility_index",
    "rel_nation_trade",
    "ext_dedup_clusters",
    "rel_bom_rollup",
)

#: input sizes: "full" is the benchmark; "small" keeps the same code
#: paths at a size the benchmark's own tests can afford
SIZES = {
    "full": {"embed_n": 3000, "detect_n": 1000, "sf": 0.01},
    "small": {"embed_n": 500, "detect_n": 500, "sf": 0.001},
}
WARMUP_N = 256


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


class Workload:
    name = ""
    #: the per-layer metrics ``traced_pass`` returns
    layers: tuple[str, ...] = ()
    #: passes in one measured set; ``op_tail_s`` is taken per set, so a
    #: set holds the same number of ops however fast they run
    passes_per_set = 1

    def __init__(self, spark, seed: int, workdir: str, size: str = "full"):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.size = SIZES[size]
        self.notes: dict[str, Any] = {}
        self.inputs = os.path.join(workdir, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name))

    def reset(self) -> None:
        """Between ops: drop cached blocks left by the previous op."""
        self.spark.catalog.clearCache()
        gc.collect()

    def generate(self) -> str:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def traced_pass(self, tracer) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------- embed_tvp


class EmbedTVP(Workload):
    """Embed a TVP watermark whose carriers come from the kNN graph,
    write the watermarked copy and count the carriers."""

    name = "embed_tvp"
    layers = (
        "knn.probe_s", "knn.kernel_s", "knn.pair_dims_per_s", "graph.ai_s",
        "tvp.classify_s", "tvp.classify_rows_per_s", "tvp.embed_rest_s",
    )
    # one op per pass: two ops per set, so that op_tail_s is not op_p50_s
    passes_per_set = 2

    def generate(self) -> str:
        self.n = self.size["embed_n"]
        src = os.path.join(self.inputs, "vectors.parquet")
        gen.write_vectors(src, self.seed, self.name, self.n, D)
        return gen.content_hash([src])

    def _embed(self, emb, out: str) -> int:
        wm, carriers, _ = tvp.tvp_embed_with_ai(
            emb, WATERMARK, TVP_STRENGTH, TVP_TH, knn_k=KNN_K
        )
        wm.write.mode("overwrite").parquet(out)
        return carriers.count()

    def _expected_carriers(self, emb) -> int:
        """The carrier count TVP must select: per group, the deficit
        min(max(0, ceil(strength·n) − n_have), n − n_have), computed
        here from the classification alone (no kNN graph involved)."""
        cls = tvp.classify_compat(emb, KEY_DIMS, L)
        rows = (
            cls.groupBy("group_id", "hidden_bit").agg(F.count(F.lit(1)).alias("c")).collect()
        )
        total, have = [0] * L, [0] * L
        for r in rows:
            total[r["group_id"]] += r["c"]
            if r["hidden_bit"] == int(WATERMARK[r["group_id"]]):
                have[r["group_id"]] += r["c"]
        return sum(
            min(max(0, math.ceil(TVP_STRENGTH * t) - h), t - h) for t, h in zip(total, have)
        )

    def prepare(self) -> None:
        self.emb = self.spark.read.parquet(os.path.join(self.inputs, "vectors.parquet"))
        self.expected = self._expected_carriers(self.emb)
        self.notes["carriers"] = self.expected
        # warm-up: one whole op and its check; a smaller collection
        # leaves the first full-size op ~20% slower than the next
        self._check(self._embed(self.emb, self.path("watermarked.parquet")))
        self.reset()

    def _check(self, n_carriers: int) -> bool:
        extracted = tvp.tvp_extract(self.read("watermarked.parquet"), L)
        return n_carriers == self.expected and extracted == WATERMARK

    def ops(self) -> list[Op]:
        return [Op("embed", lambda: self._embed(self.emb, self.path("watermarked.parquet")), self._check)]

    def traced_pass(self, tracer) -> dict[str, float]:
        emb, n = self.emb, self.n
        with tracer.span("op", op="embed"):
            with tracer.span("knn.probe", part_of_op=False):
                edges = knn.knn_edges(emb.select("vec_id", "embedding"), k=KNN_K)
            with tracer.span("knn.kernel", part_of_op=False):
                edges = edges.localCheckpoint(eager=True)
            with tracer.span("graph.ai", part_of_op=False):
                graph.accessibility_index(edges, emb).localCheckpoint(eager=True)
            with tracer.span("tvp.classify", part_of_op=False):
                tvp.classify_compat(emb, KEY_DIMS, L).localCheckpoint(eager=True)
            with tracer.span("tvp.embed"):
                n_carriers = self._embed(emb, self.path("watermarked.parquet"))
        self.traced_ok = [self._check(n_carriers)]
        m = {f"{s}_s": statistics.median(tracer.durations(s)) for s in ("knn.probe", "knn.kernel", "graph.ai", "tvp.classify")}
        m["knn.pair_dims_per_s"] = n * n * D / m["knn.kernel_s"]
        m["tvp.classify_rows_per_s"] = n / m["tvp.classify_s"]
        layers = sum(m[f"{s}_s"] for s in ("knn.probe", "knn.kernel", "graph.ai", "tvp.classify"))
        m["tvp.embed_rest_s"] = statistics.median(tracer.durations("tvp.embed")) - layers
        return m


# --------------------------------------------------------------- detect part


class DetectAttacked(Workload):
    """Attack a watermarked copy, then extract (TVP, SCPW) or test
    (TabularMark) the watermark blind — one (scheme × attack) cell of
    ``CELLS`` per op."""

    layers = (
        "tvp.extract_s", "tvp.classify_s", "tvp.classify_rows_per_s", "grouping.decode_s",
        "scpw.extract_s", "tabularmark.detect_s",
    ) + tuple(f"attacks.{a}_s" for a in ATTACKS)

    def generate(self) -> str:
        self.n = self.size["detect_n"]
        src = os.path.join(self.inputs, "vectors.parquet")
        gen.write_vectors(src, self.seed, "detect_attacked", self.n, D)
        return gen.content_hash([src])

    def prepare(self) -> None:
        orig = self.spark.read.parquet(os.path.join(self.inputs, "vectors.parquet"))
        wm, _, ai = tvp.tvp_embed_with_ai(orig, WATERMARK, TVP_STRENGTH, TVP_TH, knn_k=KNN_K)
        wm.write.mode("overwrite").parquet(self.path("tvp.parquet"))
        # the adaptive attacker ranks rows by the unwatermarked collection's AI
        ai.write.mode("overwrite").parquet(self.path("ai.parquet"))
        wm, _ = scpw.scpw_embed(
            orig, WATERMARK, SCPW_STRENGTH, top_k=SCPW_TOP_K, position=SCPW_POSITION, seed=20
        )
        wm.write.mode("overwrite").parquet(self.path("scpw.parquet"))
        wm, keys = tabularmark.tabularmark_embed(orig, TM_NW, TM_P, TM_K, TM_POSITION)
        wm.write.mode("overwrite").parquet(self.path("tabularmark.parquet"))
        keys.write.mode("overwrite").parquet(self.path("keys.parquet"))
        self.reset()
        self.orig = orig
        self.ai = self.read("ai.parquet")
        self.keys = self.read("keys.parquet")
        self.suspect = {s: self.read(f"{s}.parquet") for s in SCHEMES}
        # warm-up: the embeds above ran the detectors' classifiers; run
        # each attack once on a head slice
        for attack in ATTACKS:
            self._attack(attack, self.suspect["tvp"].filter(F.col("vec_id") < WARMUP_N)).count()
        self.reset()

    def _attack(self, attack: str, df):
        p = ATTACKS[attack]
        if attack == "random_delete":
            return attacks.random_delete(df, p, seed=self.seed)
        if attack == "adaptive_delete":
            return attacks.adaptive_delete(df, self.ai, p)
        if attack == "random_modify":
            return attacks.random_modify(df, p, seed=self.seed)
        return attacks.gaussian_insertion(
            df.select("vec_id", "embedding"), int(self.n * p), seed=self.seed
        )

    def _detect(self, scheme: str, attacked):
        if scheme == "tvp":
            return tvp.tvp_extract(attacked, L)
        if scheme == "scpw":
            return scpw.scpw_extract(attacked, L, top_k=SCPW_TOP_K, position=SCPW_POSITION)
        return tabularmark.tabularmark_detect(
            self.orig, attacked, self.keys, TM_P, TM_K, TM_POSITION
        )

    def _check(self, attack: str, scheme: str, result) -> bool:
        if scheme != "tabularmark":
            return grouping.ber(WATERMARK, result) <= REF_BER[scheme, attack] + BER_TOLERANCE
        # CELLS test TabularMark under modification only: every key row
        # the attack left alone keeps its green perturbation
        modified = self.keys.join(
            attacks.modify_targets(self.suspect[scheme], ATTACKS[attack], seed=self.seed), "vec_id"
        ).count()
        return result["detected"] and TM_NW - modified <= result["ng"] <= TM_NW

    def ops(self) -> list[Op]:
        def op(attack: str, scheme: str) -> Op:
            return Op(
                f"{scheme}/{attack}",
                lambda: self._detect(scheme, self._attack(attack, self.suspect[scheme])),
                lambda out: self._check(attack, scheme, out),
            )

        return [op(a, s) for s, a in CELLS]

    def traced_pass(self, tracer) -> dict[str, float]:
        rates: list[float] = []
        self.traced_ok = []
        for scheme, attack in CELLS:
            with tracer.span("op", op=f"{scheme}/{attack}"):
                with tracer.span(f"attacks.{attack}"):
                    attacked = self._attack(attack, self.suspect[scheme]).localCheckpoint(eager=True)
                with tracer.span(f"{scheme}.{'detect' if scheme == 'tabularmark' else 'extract'}"):
                    result = self._detect(scheme, attacked)
                if scheme == "tvp":
                    with tracer.span("tvp.classify", part_of_op=False) as sp:
                        cls = tvp.classify_compat(attacked, KEY_DIMS, L).localCheckpoint(eager=True)
                    rows = cls.count()
                    rates.append(rows / tracer.duration(sp))
                    with tracer.span("grouping.decode", part_of_op=False):
                        grouping.decode_bitstring(cls, L)
            self.traced_ok.append(self._check(attack, scheme, result))
            self.reset()
        m = {f"{s}_s": statistics.median(tracer.durations(s)) for s in (
            "tvp.extract", "tvp.classify", "grouping.decode", "scpw.extract", "tabularmark.detect")}
        m["tvp.classify_rows_per_s"] = statistics.median(rates)
        for attack in ATTACKS:
            m[f"attacks.{attack}_s"] = statistics.median(tracer.durations(f"attacks.{attack}"))
        return m


# ------------------------------------------------------------- pipeline part


def _digest_type(t: T.DataType) -> T.DataType:
    """``t`` with every double narrowed to float, so a digest ignores
    last-bit differences of floating sums taken in another order."""
    if isinstance(t, T.DoubleType):
        return T.FloatType()
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_digest_type(t.elementType), t.containsNull)
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _digest_type(f.dataType), f.nullable) for f in t.fields])
    return t


def digest_columns(schema: T.StructType) -> list:
    cols = []
    for f in schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.MapType):
            cols.append(F.to_json(c))
        else:
            cols.append(c.cast(_digest_type(f.dataType)))
    return cols


#: registry rows round to 5 decimals, and Spark and DuckDB may round a
#: tie differently: allow one unit of the 5th decimal, which in binary
#: floating point can read a little above 1e-5
ORACLE_ATOL = 1.5e-5


def frames_agree(got, want) -> bool:
    """pandas frames equal up to column and row order; integers exactly,
    other numbers within ``ORACLE_ATOL``."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = got[c], want[c]
        if pd.api.types.is_integer_dtype(a) and pd.api.types.is_integer_dtype(b):
            same = (a == b).to_numpy()
        elif pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            same = np.isclose(a.astype(float), b.astype(float), rtol=0.0, atol=ORACLE_ATOL, equal_nan=True)
        else:
            same = (a.astype(str) == b.astype(str)).to_numpy()
        if not same.all():
            return False
    return True


class Pipeline(Workload):
    """Registry rows in a fixed order. Calling ``QUERIES[q].fn`` is the
    build phase (its eager jobs run here); the noop write is the exec
    phase. The write also observes a row count and an order-insensitive
    hash of the rows, which the check compares with an untimed reference
    pass made at setup. The reference pass's output is compared there
    with the row's DuckDB oracle on the same tables; if they disagree,
    every op of the row fails. Without DuckDB or an oracle the check
    catches only nondeterminism."""

    queries = PIPELINE_QUERIES
    layers = ("registry.build_s", "registry.exec_s", "registry.build_jobs", "registry.exec_jobs") + tuple(
        f"registry.{q}.{phase}_s" for q in PIPELINE_QUERIES for phase in ("build", "exec")
    )

    def generate(self) -> str:
        self.tables = os.path.join(self.inputs, "tables")
        gen.write_tables(self.tables, self.seed, self.size["sf"])
        return gen.content_hash([self.tables])

    def _exec(self, df) -> tuple[int, int]:
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.shiftright(F.xxhash64(*digest_columns(df.schema)), 32)), F.lit(0)).alias("h"),
        ).write.format("noop").mode("overwrite").save()
        got = obs.get
        return got["n"], got["h"]

    def _oracle_agrees(self, q: str, df) -> bool | None:
        """Whether the row's output equals its DuckDB oracle on the same
        tables (columns and rows in any order, numbers within
        ``ORACLE_ATOL``); ``None`` without DuckDB or an oracle."""
        try:
            import duckdb
        except ImportError:
            return None
        if QUERIES[q].oracle is None:
            return None
        with duckdb.connect() as con:
            for f in sorted(os.listdir(self.tables)):
                table = f.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.tables}/{f}')")
            want = con.execute(QUERIES[q].oracle).fetchdf()
        return frames_agree(df.toPandas(), want)

    def prepare(self) -> None:
        self.reference = {}
        source = self.notes["reference"] = {}
        for q in self.queries:
            self.reset()
            df = QUERIES[q].fn(self.spark, self.tables)
            self.reference[q] = self._exec(df)  # also the warm-up
            agrees = self._oracle_agrees(q, df)
            source[q] = {None: "self", True: "oracle", False: "oracle mismatch"}[agrees]
            if agrees is False:  # every op of this row fails its check
                self.reference[q] = None
        self.reset()

    def ops(self) -> list[Op]:
        def op(q: str) -> Op:
            return Op(q, lambda: self._exec(QUERIES[q].fn(self.spark, self.tables)),
                      lambda out: out == self.reference[q])

        return [op(q) for q in self.queries]

    def traced_pass(self, tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        self.traced_ok = []
        for q in self.queries:
            self.reset()
            with tracer.span("op", op=q):
                with tracer.span(f"registry.{q}.build") as b:
                    df = QUERIES[q].fn(self.spark, self.tables)
                with tracer.span(f"registry.{q}.exec") as e:
                    out = self._exec(df)
            self.traced_ok.append(out == self.reference[q])
            m[f"registry.{q}.build_s"] = tracer.duration(b)
            m[f"registry.{q}.exec_s"] = tracer.duration(e)
            for phase, span in (("build", b), ("exec", e)):
                m[f"registry.{phase}_s"] = m.get(f"registry.{phase}_s", 0.0) + tracer.duration(span)
                m[f"registry.{phase}_jobs"] = m.get(f"registry.{phase}_jobs", 0.0) + span["spark"]["jobs"]
        return m


# -------------------------------------------------------- detect_pipeline


class DetectPipeline(Workload):
    """The detect cells, then the registry rows: short ops at Spark's
    per-job floor, one workload so the benchmark fits its time budget.
    No op builds a kNN graph at the vector workloads' size: blind
    extraction needs only the key seed and L, and the registry's graph
    row works on the 64-dim fixture."""

    name = "detect_pipeline"
    layers = DetectAttacked.layers + Pipeline.layers

    def __init__(self, spark, seed: int, workdir: str, size: str = "full"):
        super().__init__(spark, seed, workdir, size)
        self.parts = (
            DetectAttacked(spark, seed, workdir, size),
            Pipeline(spark, seed, workdir, size),
        )

    def generate(self) -> str:
        return hashlib.sha256("".join(p.generate() for p in self.parts).encode()).hexdigest()

    def prepare(self) -> None:
        for p in self.parts:  # the detect embeds warm the engine for the registry
            p.prepare()
            self.notes.update(p.notes)

    def ops(self) -> list[Op]:
        return [op for p in self.parts for op in p.ops()]

    def traced_pass(self, tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        self.traced_ok = []
        for p in self.parts:
            m.update(p.traced_pass(tracer))
            self.traced_ok += p.traced_ok
        return m


WORKLOADS = {w.name: w for w in (EmbedTVP, DetectPipeline)}
