"""``queries``: the 18 ``bench.HEADLINE`` queries, one noop-sink pass at a
time, over fixed generated tables; the seed permutes the query order of
every pass. The first of the two warm-up passes collects every result and
compares it with the DuckDB ``oracle_sql()`` answer.
"""

from __future__ import annotations

import math
import random
import sys
import time

from perfbench import tables
from perfbench.tracing import Tracer, job_group, rollup_groups

SF = 0.02
# The tables stand in for the fixed sf test tables (TESTDATA.md, seed 42);
# as with those, only the query order varies with the run's seed.
TABLE_SEED = 42
QUERY_FIELDS = ["wall_s", "shuffle_mb", "task_skew"]


def headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def per_layer_names() -> list[str]:
    return [f"{q}.{f}" for q in headline() for f in QUERY_FIELDS]


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def normalize(cols, rows) -> list[tuple]:
    """Row set with columns in name order and floats rounded to 9 places,
    as tests/test_queries_oracle.py compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


class Queries:
    warmup_reps = 2

    def __init__(self, seed: int, work_dir: str):
        from bionext_spark.corpus_queries import CORPUS
        from bionext_spark.entry_queries import RELATIONAL

        self.data = f"{work_dir}/tables"
        self.registry = {**RELATIONAL, **CORPUS}
        self.order_rng = random.Random(seed)
        self.passes = 0
        self.ok = True

    def prepare(self) -> dict:
        import duckdb

        from bionext_spark.entry_queries import TABLES

        sizes = tables.generate(self.data, SF, TABLE_SEED)
        con = duckdb.connect()
        try:
            for name in TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.data}/{name}.parquet'")
            self.expected = {}
            for q in headline():
                res = con.execute(self.registry[q][1])
                self.expected[q] = normalize([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return {"sf": SF, **sizes}

    def load(self, spark) -> None:
        pass

    def side_data(self, spark) -> None:
        """Footers, page cache and the scan path of the four large tables."""
        for name in ("lineitem", "orders", "events", "documents"):
            spark.read.parquet(f"{self.data}/{name}.parquet").count()

    def _order(self) -> list[str]:
        order = headline()
        self.order_rng.shuffle(order)
        return order

    def _one(self, spark, q: str, collect: bool) -> None:
        df = self.registry[q][0](spark, self.data)
        if collect:
            if normalize(df.columns, [tuple(r) for r in df.collect()]) != self.expected[q]:
                print(f"perfbench: {q} differs from its DuckDB oracle", file=sys.stderr)
                self.ok = False
        else:
            df.write.format("noop").mode("overwrite").save()

    def rep(self, spark) -> float:
        """One pass over the 18 queries; the first pass of a run is the
        checked one."""
        self.passes += 1
        t0 = time.perf_counter()
        for q in self._order():
            self._one(spark, q, collect=self.passes == 1)
        return time.perf_counter() - t0

    def check(self) -> bool:
        return self.ok

    def traced(self, spark, tracer: Tracer) -> tuple[float, bool]:
        sc = spark.sparkContext
        with tracer.span("rep"):
            for q in self._order():
                with job_group(sc, q), tracer.span(q):
                    self._one(spark, q, collect=False)
        rep = tracer.spans[0]
        return rep.end - rep.start, self.ok

    def layer_metrics(self, tracer: Tracer, events) -> tuple[dict[str, float], list[dict]]:
        groups = rollup_groups(events)
        out: dict[str, float] = {}
        for q in headline():
            g = groups.get(q, {})
            out[f"{q}.wall_s"] = tracer.total(q)
            out[f"{q}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
            out[f"{q}.task_skew"] = g.get("task_skew", 0.0)
        return out, [g for name, g in groups.items() if name]
