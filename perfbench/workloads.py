"""The benchmark's workloads.

Each op of a workload is one or more *steps*; a step is a builder call
that returns a DataFrame (the eager driver-side work of the query)
followed by a noop write of that DataFrame (its plan execution). The
noop write carries ``observe`` metrics -- row count and the sum of a
checksum column -- so checking an op's output adds no Spark job.

Why these two (the per-layer map is in README.md):

* ``flagship`` -- ``ipf_cost_per_visit``, the paper's pipeline: a scan
  and aggregate of lineitem, then the row-array IPF loop
  (``operators.ipf_dense``) under ``plans.cost_allocation``. It
  bypasses ``operators.ipf``, ``operators.matrix``, ``operators.graph``
  and ``functions.dedup``.
* ``driver_loops`` -- the driver-action loops outside the flagship,
  bound by job count and plan size rather than data volume:
  ``operators.ipf.converge`` on the (part, pseudo-hour) quantity matrix
  with a fixed sweep count (the same IPF problem in the coordinate
  layout; one sweep stays below the loop's ``checkpoint_every=5``, so
  it rotates no checkpoint), then the support-graph components query
  (``gr08``) and the near-duplicate keep-one query (``d11``), which
  rotate a checkpoint per round, exit early and cross the
  Python-worker boundary. ``operators.ipf_dense`` and
  ``plans.cost_allocation`` do not run.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HOURS = 24
FLAGSHIP_MAX_ITERATIONS = 20  # as the registry's flagship entry
COORDINATE_SWEEPS = 1
REL_TOL = 1e-9


@dataclass
class Step:
    """One builder call, the column its noop write sums, and the check
    of what the write observed plus what the builder captured (the IPF
    sweep count)."""

    label: str
    tables: tuple[str, ...]  # what it reads, loaded once per session set-up
    build: Callable[[SparkSession, str, dict], DataFrame]
    checksum: str
    check: Callable[[dict, dict], list[str]]  # (observed, reference) -> errors

    def observe(self) -> list[Column]:
        return [F.count(F.lit(1)).alias("rows"), F.sum(self.checksum).alias("sum")]


@dataclass
class Workload:
    name: str
    sf: float
    steps: list[Step]
    # timed ops per second of --seconds: the work of a pass follows
    # from the run length alone, never from a measurement
    ops_per_second: float


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)


# -- flagship ---------------------------------------------------------------


def _flagship_build(spark: SparkSession, sf_dir: str, captured: dict) -> DataFrame:
    """The registry entry, with the IPF result of its loop captured by
    rebinding the name ``cost_allocation`` calls for the call's length."""
    from alternating_least_squares_spark import registry
    from alternating_least_squares_spark.plans import cost_allocation

    inner = cost_allocation.converge_dense

    def tap(*args, **kwargs):
        result = inner(*args, **kwargs)
        captured["iterations"] = result.iterations
        return result

    cost_allocation.converge_dense = tap
    try:
        return registry.queries()["ipf_cost_per_visit"](spark, sf_dir)
    finally:
        cost_allocation.converge_dense = inner


def _flagship_check(got: dict, ref: dict) -> list[str]:
    errors = []
    if got["rows"] != ref["cost_cells"]:
        errors.append(f"rows {got['rows']} != parts x hours {ref['cost_cells']}")
    if got["sum"] is None or not _close(got["sum"], ref["revenue"]):
        errors.append(f"sum(cost) {got['sum']} != revenue {ref['revenue']}")
    sweeps = got.get("iterations")
    if sweeps is None or not 1 <= sweeps < FLAGSHIP_MAX_ITERATIONS:
        errors.append(f"IPF did not converge within budget (sweeps={sweeps})")
    return errors


# -- coordinate -------------------------------------------------------------


def _coordinate_build(spark: SparkSession, sf_dir: str, captured: dict) -> DataFrame:
    from alternating_least_squares_spark.operators import matrix as M
    from alternating_least_squares_spark.operators.ipf import converge
    from alternating_least_squares_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    hour = F.col("l_orderkey") % HOURS
    seed = li.groupBy(F.col("l_partkey").alias(M.R), hour.alias(M.C)).agg(
        F.sum("l_quantity").alias(M.V)
    )
    x = li.groupBy(F.col("l_partkey").alias(M.ID)).agg(F.sum("l_quantity").alias(M.V))
    y = li.groupBy(hour.alias(M.ID)).agg(F.sum("l_quantity").alias(M.V))
    result = converge(x, y, seed, threshold=0.0, max_iterations=COORDINATE_SWEEPS)
    captured["iterations"] = result.iterations
    return result.matrix


def _coordinate_check(got: dict, ref: dict) -> list[str]:
    errors = []
    if got["rows"] != ref["qty_cells"]:
        errors.append(f"rows {got['rows']} != cells {ref['qty_cells']}")
    if got["sum"] is None or not _close(got["sum"], ref["quantity"]):
        errors.append(f"sum(v) {got['sum']} != quantity {ref['quantity']}")
    if got.get("iterations") != COORDINATE_SWEEPS:
        errors.append(f"sweeps {got.get('iterations')} != {COORDINATE_SWEEPS}")
    return errors


# -- graph_loops ------------------------------------------------------------


def _gr08_build(spark: SparkSession, sf_dir: str, captured: dict) -> DataFrame:
    from alternating_least_squares_spark import registry

    return registry.queries()["gr08_connected_components"](spark, sf_dir)


def _d11_build(spark: SparkSession, sf_dir: str, captured: dict) -> DataFrame:
    from alternating_least_squares_spark import registry

    return registry.queries()["d11_neardup_keep_one"](spark, sf_dir)


def _gr08_check(got: dict, ref: dict) -> list[str]:
    want = (ref["graph_vertices"], ref["graph_label_sum"])
    if (got["rows"], got["sum"]) != want:
        return [f"(rows, sum(component)) {(got['rows'], got['sum'])} != {want}"]
    return []


def _d11_check(got: dict, ref: dict) -> list[str]:
    if got["sum"] != ref["dedup_docs"]:
        return [f"sum(n_merged) {got['sum']} != documents {ref['dedup_docs']}"]
    return []


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            name="flagship",
            sf=0.01,
            steps=[
                Step(
                    "ipf_cost_per_visit",
                    ("lineitem", "events"),
                    _flagship_build,
                    "cost",
                    _flagship_check,
                )
            ],
            ops_per_second=1 / 5.0,
        ),
        Workload(
            name="driver_loops",
            sf=0.001,
            steps=[
                Step("converge", ("lineitem",), _coordinate_build, "v", _coordinate_check),
                Step(
                    "gr08_connected_components",
                    ("lineitem",),
                    _gr08_build,
                    "component",
                    _gr08_check,
                ),
                Step(
                    "d11_neardup_keep_one",
                    ("documents",),
                    _d11_build,
                    "n_merged",
                    _d11_check,
                ),
            ],
            ops_per_second=1 / 5.3,
        ),
    ]
}
