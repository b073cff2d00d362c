"""The benchmark's workloads: operations, inputs and output checks.

Every operation calls the engine's public functions and opens a span per
layer call, so the traced run can attribute its time. An operation returns
a small result that :meth:`check` verifies outside the timed region.

- ``scaled``: four queries from ``bench.HEADLINE`` (scan, shuffle, executor
  compute, Python boundary) on a 4x key-shifted replica built with
  ``tools/scale_test.build``. The warm-up collects each query's result and
  compares it with its registry DuckDB oracle on the same replica; each
  timed execution writes to the noop sink while an observation computes the
  result's digest (row count, column sums), which is compared with the
  oracle's.
- ``ice_case``: the paper's pipeline, mesh -> solve -> snapshot read-back,
  checked with the invariants the repo's geometry and experiment tests use.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys
import zlib
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import FractionalType, IntegralType, StringType

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (_REPO, os.path.join(_REPO, "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import datagen  # noqa: E402
import scale_test  # noqa: E402
from bench import HEADLINE  # noqa: E402
from columnarmodeling_spark.catalog import TABLES  # noqa: E402
from columnarmodeling_spark.geometry.pipeline import generate_columnar_mesh  # noqa: E402
from columnarmodeling_spark.queries import REGISTRY  # noqa: E402
from columnarmodeling_spark.simulation.experiment import (  # noqa: E402
    ExperimentConfig,
    run_experiment,
)
from columnarmodeling_spark.sources.binary_snapshots import (  # noqa: E402
    decode_blobs,
    encode_groups,
)
from tests.oracle_utils import canonical_rows  # noqa: E402


@dataclass
class Op:
    name: str
    run: Callable  # (tracer) -> result for check()


class VerificationError(AssertionError):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise VerificationError(what)


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list]:
    """DuckDB over the tables in *sf_dir*, which may be single parquet
    files (generated base) or Spark-written parquet directories (replica)."""
    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def digest_columns(df) -> list:
    """Aggregates that sum up a result: its row count, the sum of each
    numeric column and the sum of the CRC-32 of each string column."""
    out = [F.count(F.lit(1)).alias("_rows")]
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, StringType):
            c = F.crc32(c.cast("binary"))
        elif not isinstance(f.dataType, (IntegralType, FractionalType)):
            raise TypeError(f"no digest for column {f.name}: {f.dataType}")
        out.append(F.sum(c).alias(f.name))
    return out


def digest_rows(cols: list[str], rows: list) -> dict:
    """:func:`digest_columns` of a collected result, computed in Python."""
    d: dict = {"_rows": len(rows)}
    for i, name in enumerate(cols):
        vals = [r[i] for r in rows if r[i] is not None]
        if any(isinstance(v, str) for v in vals):
            vals = [zlib.crc32(v.encode()) for v in vals]
        elif any(not isinstance(v, int) for v in vals):
            vals = [float(v) for v in vals]  # DuckDB gives DECIMAL as Decimal
        d[name] = (math.fsum(vals) if any(isinstance(v, float) for v in vals)
                   else sum(vals)) if vals else None
    return d


def same_digest(got: dict, want: dict) -> bool:
    """Integer sums must match exactly; floating sums to 1e-9 relative
    (the engine may add them in another order)."""
    if sorted(got) != sorted(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(g, float) or isinstance(w, float):
            if g is None or w is None or not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif g != w:
            return False
    return True


class Scaled:
    """Headline queries on a 4x key-shifted replica."""

    name = "scaled"
    QUERIES = [
        "q01_pricing_summary", "q25_row_grouping", "q69_ivf_search",
        "q129_prefix_filter_join",
    ]
    BASE_SF = 0.025
    FACTOR = 4
    # tables no scaled query reads: placed at 1x before the build, which
    # then leaves them as they are (scale_test.build skips existing tables)
    UNSCALED = ("customer", "orders", "events", "part", "nation")
    DATA_SEED = 20240101  # table contents; the run seed only orders the ops

    def __init__(self, spark, work_dir: str, seed: int):
        assert set(self.QUERIES) <= set(HEADLINE)
        self.spark = spark
        self.base = os.path.join(work_dir, "base")
        self.data = os.path.join(work_dir, f"replica_x{self.FACTOR}")
        self.order = list(self.QUERIES)
        random.Random(seed).shuffle(self.order)
        self._oracles: dict[str, tuple[list[str], list]] = {}

    def prepare(self) -> None:
        # fresh every run: scale_test.build skips tables that already exist
        for d in (self.base, self.data):
            shutil.rmtree(d, ignore_errors=True)
        datagen.write(self.base, self.BASE_SF, self.DATA_SEED)
        os.makedirs(self.data)
        for name in TABLES:
            if name in self.UNSCALED or name not in scale_test._TABLES:
                shutil.copy(
                    os.path.join(self.base, f"{name}.parquet"),
                    os.path.join(self.data, f"{name}.parquet"),
                )
        scale_test.build(self.spark, self.base, self.data, self.FACTOR)

    def ops(self, warmup: bool = False) -> list[Op]:
        return [Op(q, self._op(q, warmup)) for q in self.order]

    def _op(self, q: str, collect: bool):
        def run(tracer):
            with tracer.span("queries.build"):
                df = REGISTRY[q].fn(self.spark, self.data)
            with tracer.span("queries.exec"):
                if collect:
                    return df.columns, [tuple(r) for r in df.collect()]
                obs = Observation(q)
                df.observe(obs, *digest_columns(df)).write.format("noop").mode(
                    "overwrite"
                ).save()
            return obs

        return run

    def _oracle(self, q: str) -> tuple[list[str], list]:
        if q not in self._oracles:
            self._oracles[q] = run_oracle(REGISTRY[q].oracle, self.data)
        return self._oracles[q]

    def check(self, op: Op, result) -> None:
        ocols, orows = self._oracle(op.name)
        if isinstance(result, Observation):  # a timed, noop-sink execution
            got, want = result.get, digest_rows(ocols, orows)
            _require(got["_rows"] == want["_rows"],
                     f"{op.name}: {got['_rows']} rows, oracle {want['_rows']}")
            _require(same_digest(got, want), f"{op.name}: digest {got} != oracle {want}")
            return
        cols, rows = result
        _require(sorted(cols) == sorted(ocols), f"{op.name}: columns differ")
        _require(len(rows) == len(orows), f"{op.name}: {len(rows)} rows, oracle {len(orows)}")
        _require(len(rows) > 0, f"{op.name}: empty result")
        _require(
            canonical_rows(cols, rows) == canonical_rows(ocols, orows),
            f"{op.name}: values differ from the DuckDB oracle",
        )


class IceCase:
    """Mesh -> breaking-bond experiment -> snapshot codec read-back."""

    name = "ice_case"
    W, H, D = 200.0, 200.0, 25.0
    GRAINS, LLOYD = 20, 1
    NX, NY = 30, 20
    STEPS, OUT_EVERY = 20, 10
    STRAIN_LIMIT, PLATEN_VY = 0.05, 20.0
    SCATTER_SEED = 42

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.snaps = os.path.join(work_dir, "snapshots")
        self.output_bytes = 0
        # a fixed grain scatter moved by up to one unit per seed, so every
        # seed meshes a tessellation of the same shape and cost
        base = np.random.default_rng(self.SCATTER_SEED).uniform(
            2.0, self.W - 2.0, size=(self.GRAINS, 2)
        )
        rng = np.random.default_rng(seed)
        self._seed_pts = np.clip(
            base + rng.uniform(-1.0, 1.0, size=base.shape), 2.0, self.W - 2.0
        )
        self._jitter = rng.uniform(-0.05, 0.05, size=(self.NX * self.NY, 2))

    def prepare(self) -> None:
        self.seeds = self.spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(self._seed_pts)],
            "id LONG, x DOUBLE, y DOUBLE",
        ).localCheckpoint()
        n = self.NX * self.NY
        ids = np.arange(n)
        xy = np.stack([ids % self.NX, ids // self.NX], axis=1) + self._jitter
        self.particles = self.spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, xy)],
            "id LONG, x DOUBLE, y DOUBLE",
        ).localCheckpoint()

    def ops(self, warmup: bool = False) -> list[Op]:
        return [Op("mesh", self._mesh), Op("solve", self._solve), Op("codec", self._codec)]

    def _mesh(self, tracer):
        with tracer.span("geometry.mesh"):
            with tracer.span("queries.build"):
                grains, facets = generate_columnar_mesh(
                    self.spark, self.seeds, self.W, self.H, self.D,
                    lloyd_iters=self.LLOYD, select_quota=5,
                )
            with tracer.span("queries.exec"):
                g = [r.asDict() for r in grains.collect()]
                fc = {
                    r["grain_id"]: r["n"]
                    for r in facets.groupBy("grain_id")
                    .agg(F.count("*").alias("n")).collect()
                }
        return g, fc

    def _solve(self, tracer):
        shutil.rmtree(self.snaps, ignore_errors=True)
        cfg = ExperimentConfig(
            d_gap=1.5, k=1.0, dt=0.005, n_steps=self.STEPS,
            n_out=self.OUT_EVERY, fuse=self.OUT_EVERY,
            strain_limit=self.STRAIN_LIMIT, platen_vy=self.PLATEN_VY,
        )
        with tracer.span("simulation.solve"):
            with tracer.span("queries.build"):
                res = run_experiment(self.spark, self.particles, cfg, self.snaps)
            with tracer.span("queries.exec"):
                e = [r.asDict() for r in res["e_series"].collect()]
                b = [r.asDict() for r in res["b_series"].collect()]
                n_final = res["final"].count()
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.snaps) for f in fs if f.endswith(".parquet")
        )
        self.output_bytes = size
        return {"e": e, "b": b, "n_final": n_final, "output_bytes": size}

    def _codec(self, tracer):
        with tracer.span("sources.codec"):
            with tracer.span("queries.build"):
                snaps = self.spark.read.parquet(self.snaps).select(
                    "step", F.col("id").cast("double").alias("fid"), "x", "y", "vy"
                )
                blobs = encode_groups(snaps, "step", ["fid", "x", "y", "vy"])
                dec = decode_blobs(blobs, n_fields=4)
            with tracer.span("queries.exec"):
                got = dec.groupBy("group").agg(
                    F.count("*").alias("n"),
                    F.sum("f1").alias("s_id"),
                    F.sum("f3").alias("s_y"),
                ).collect()
                want = snaps.groupBy("step").agg(
                    F.count("*").alias("n"),
                    F.sum("fid").alias("s_id"),
                    F.sum("y").alias("s_y"),
                ).collect()
        return [r.asDict() for r in got], [r.asDict() for r in want]

    def check(self, op: Op, result) -> None:
        getattr(self, f"_check_{op.name}")(result)

    def _check_mesh(self, result) -> None:
        g, fc = result
        _require(len(g) == self.GRAINS, f"mesh: {len(g)} grains, want {self.GRAINS}")
        area = sum(r["area"] for r in g)
        _require(abs(area - self.W * self.H) < 1e-6 * self.W * self.H, f"mesh: area {area}")
        _require(all(r["n_vertices"] >= 3 for r in g), "mesh: degenerate grain")
        _require(any(r["is_boundary"] for r in g), "mesh: no boundary grain")
        sel = [r for r in g if r["selected"]]
        _require(0 < len(sel) <= 5, f"mesh: {len(sel)} selected grains")
        _require(not any(r["is_boundary"] for r in sel), "mesh: boundary grain selected")
        _require(fc == {r["grain_id"]: r["n_vertices"] for r in g}, "mesh: facets != ring")

    def _check_solve(self, result) -> None:
        n = self.NX * self.NY
        steps = list(range(self.OUT_EVERY, self.STEPS + 1, self.OUT_EVERY))
        _require(result["n_final"] == n, "solve: particles lost")
        e = {(r["step"], r["platen"]): r for r in result["e"]}
        _require(
            set(e) == {(s, p) for s in steps for p in ("top", "bottom")},
            "solve: E series rows",
        )
        for s in steps:  # bottom band clamped, top band driven at platen_vy
            _require(abs(e[(s, "bottom")]["sum_vy"]) < 1e-9, "solve: bottom moved")
            top = e[(s, "top")]
            _require(
                abs(top["sum_vy"] - top["n"] * self.PLATEN_VY) < 1e-6,
                "solve: top platen velocity",
            )
        b = sorted(result["b"], key=lambda r: r["step"])
        _require([r["step"] for r in b] == steps, "solve: B series steps")
        damage = [r["damage"] for r in b]
        _require(damage == sorted(damage) and damage[-1] > 0, f"solve: damage {damage}")
        _require(result["output_bytes"] > 0, "solve: no snapshots written")

    def _check_codec(self, result) -> None:
        got, want = result
        n = self.NX * self.NY
        g = {r["group"]: r for r in got}
        w = {r["step"]: r for r in want}
        _require(sorted(g) == sorted(w) and len(w) == self.STEPS // self.OUT_EVERY,
                 "codec: step groups")
        for s, r in w.items():
            _require(g[s]["n"] == r["n"] == n, "codec: row count")
            _require(g[s]["s_id"] == r["s_id"], "codec: particle ids")
            _require(math.isclose(g[s]["s_y"], r["s_y"], rel_tol=1e-5), "codec: values")

    def steps_done(self) -> int:
        return self.NX * self.NY * self.STEPS


WORKLOADS = {w.name: w for w in (Scaled, IceCase)}
