"""The benchmark's two workloads.

Each workload is a fixed list of operations. A pass runs every operation
once, in an order permuted from the run's seed. ``check`` is not timed; it
returns the names of the operations whose outputs are wrong, with one line
each saying why.

interchange  SQL and plan bytes through the interchange, nothing executed:
             the 17 declared queries, one signed-zero plan, a seeded draw
             from the SQL-fuzz pool (all serialized then deserialized) and
             the 8 foreign wire goldens (deserialized).
execution    9 ``q*`` registry entries (roundtrip plus their foreign legs)
             and 7 operator and streaming registry entries, each executed
             to the noop sink.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
from concurrent.futures import ThreadPoolExecutor

import duckdb

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# ROADMAP open item 3: _Consumer._literal_cached keys its cache on
# (kind, value), and 0.0 == -0.0 in Python, so after consumption the
# second column reads '0.0' where the direct plan reads '-0.0'.
SIGNED_ZERO_SQL = ("SELECT CAST(l_quantity * 0.0d AS STRING) a, "
                   "CAST(l_quantity * -0.0d AS STRING) b FROM lineitem")
KNOWN_FAULTS = {"signed_zero"}

FUZZ_DRAW = 8

# Registry entries of the execution workload: subsets of what bench.py
# times, so that a run (set-up, correctness pass, timed passes) stays near
# 60 s: the 9 relational queries it benches, and 7 of its 14 pipelines, one
# per operator family plus the two carried optimisation targets (d2, d8).
RELATIONAL = ("q01_pricing_summary", "q03_filter_arith", "q05_group_agg",
              "q06_agg_distinct_filter", "q08_join3", "q09_outer_joins",
              "q20_top_revenue", "q24_window", "q28_explode")
PIPELINES = ("d1_exact_dedup", "d2_minhash_pairs", "d8_semdedup",
             "s3_ivf_topk", "t2_quality", "e6_asof_join",
             "m1_multimodal_meta")

# Independent results for the foreign wire goldens (their plans are
# described in tests/wire_fixtures/manifest.json). g5 samples rows, so it
# gets a property check instead.
GOLDEN_ORACLES = {
    "g1_read_filter_aggregate":
        "SELECT n_regionkey, sum(n_nationkey) FROM nation "
        "WHERE n_regionkey = 1 GROUP BY n_regionkey",
    "g2_join":
        "SELECT n_nationkey, n_regionkey, r_regionkey, r_name "
        "FROM nation JOIN region ON n_regionkey = r_regionkey",
    "g3_window":
        "SELECT n_name, sum(n_nationkey) OVER (PARTITION BY n_regionkey "
        "ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) FROM nation",
    "g4_virtual_table":
        "SELECT * FROM (VALUES (7::BIGINT, 'x', true, DATE '2022-01-08', "
        "123.45::DECIMAL(5,2)), (NULL, 'y', false, DATE '1970-01-01', "
        "-123.45::DECIMAL(5,2)))",
    "g6_setop_sort_fetch":
        "SELECT k FROM (SELECT n_regionkey AS k FROM nation UNION "
        "SELECT r_regionkey FROM region) ORDER BY k DESC LIMIT 3 OFFSET 1",
    "g7_lambda_transform":
        "SELECT n_name, [upper(n_name), upper(n_name)] FROM nation",
    "g8_emit_project":
        "SELECT n_regionkey + 100, n_regionkey FROM nation",
}

D2_EXACT_SQL = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(t) - 3, 2)), i -> substr(t, i, 5))) AS g
  FROM norm)
SELECT p.a, p.b,
       round(len(list_intersect(x.g, y.g))::DOUBLE
             / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))), 6)
FROM pairs p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b
"""


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def duck(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


class Workload:
    """Shared pass loop; subclasses define ``ops`` and the op runner."""

    def __init__(self, spark, data_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.plant = None  # negative controls: corrupts one checked result

    def run_pass(self) -> None:
        for op in self.rng.sample(self.ops, len(self.ops)):
            if self.tracer is not None:
                self.tracer.op = op[0]
                self.spark.sparkContext.setJobDescription(
                    f"{self.tracer.pass_no}|{op[0]}")
            self.run_op(op)

    def warm_up(self) -> None:
        """Untimed passes past the JIT knee: one from cold with a thread per
        core, then ``warm_passes`` serial passes like the timed ones."""
        self._each(self.run_op)
        for _ in range(self.warm_passes):
            self.run_pass()

    def check(self) -> dict[str, str]:
        """Check every operation's output; {op name: why} for the wrong ones."""
        con = duck(self.data_dir)
        whys = self._each(lambda op: self.check_op(op, con.cursor()))
        return {op[0]: why for op, why in zip(self.ops, whys) if why}

    def _each(self, fn) -> list:
        """``fn(op)`` for every operation on a thread per core. Only untimed
        work runs this way; most of its wall time is JIT compilation and
        Spark job latency, which overlap."""
        workers = self.spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(max_workers=workers) as ex:
            return list(ex.map(fn, self.ops))

    def _planted(self, name: str, rows: list) -> list:
        return self.plant(name, rows) if self.plant else rows

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


class Interchange(Workload):
    sf = 0.001
    warm_passes = 3
    min_passes = 4

    def __init__(self, spark, data_dir, seed, tracer=None):
        super().__init__(spark, data_dir, seed, tracer)
        from datafusion_substrait_spark import (from_substrait_plan,
                                                to_substrait_plan)
        from datafusion_substrait_spark.plans import proto, wire

        import __spark_entry__ as entry

        self.produce, self.consume = to_substrait_plan, from_substrait_plan
        self.proto, self.wire = proto, wire
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        with open(os.path.join(HERE, "corpus", "declared_sql.json")) as f:
            declared = json.load(f)
        with open(os.path.join(HERE, "corpus", "fuzz_sql.json")) as f:
            pool = json.load(f)
        # one plan from each of FUZZ_DRAW strata of the pool ordered by SQL
        # length, so the draw's cost varies little from seed to seed
        by_len = sorted(range(len(pool)), key=lambda i: (len(pool[i]), i))
        size = len(pool) // FUZZ_DRAW
        pick = random.Random(seed)
        picks = sorted(pick.choice(by_len[k * size:(k + 1) * size])
                       for k in range(FUZZ_DRAW))
        self.ops = [(n, "sql", sql) for n, sql in declared.items()]
        self.ops.append(("signed_zero", "sql", SIGNED_ZERO_SQL))
        self.ops += [(f"fuzz{i}", "sql", pool[i]) for i in picks]
        gdir = os.path.join(HERE, "corpus", "wire_goldens")
        for fname in sorted(os.listdir(gdir)):
            with open(os.path.join(gdir, fname), "rb") as f:
                self.ops.append((fname[:-4], "golden", f.read()))

    def serialize(self, sql: str) -> bytes:
        with self._span("catalyst_in"):
            df = self.spark.sql(sql)
            if self.tracer:
                df._jdf.queryExecution().optimizedPlan()
        with self._span("producer"):
            plan = self.produce(df)
        with self._span("wire.encode"):
            return self.wire.encode_plan(plan)

    def deserialize(self, raw: bytes):
        with self._span("wire.decode"):
            plan = self.wire.decode_plan(raw)
        with self._span("consumer"):
            df = self.consume(self.spark, plan)
        with self._span("catalyst_out"):
            df._jdf.queryExecution().executedPlan()
        return df

    def run_op(self, op) -> None:
        name, kind, payload = op
        raw = self.serialize(payload) if kind == "sql" else payload
        df = self.deserialize(raw)
        if self.tracer:
            # the seed-independent part of the corpus, so the total repeats
            # exactly from run to run
            if not name.startswith("fuzz"):
                self.tracer.add("wire.bytes", len(raw))
            self.tracer.note_plan(df._jdf, force=False)

    def check_op(self, op, con) -> str | None:
        name, kind, payload = op
        why, df, rows = self._check_plan(con, name, kind, payload)
        if why or name not in self.oracles:
            return why
        # A declared query's consumed result is checked against its DuckDB
        # oracle rather than the direct result. The registry entries that
        # are a plain roundtrip of the SQL are the consumed result itself;
        # the others add foreign-plan legs and run in full.
        if self.queries[name].__name__ != "<lambda>":
            df = self.queries[name](self.spark, self.data_dir)
            rows = self._planted(name, [tuple(r) for r in df.collect()])
        rel = con.sql(self.oracles[name])
        why = checks.matches_oracle(name, df.columns, rows,
                                    rel.columns, rel.fetchall())
        return "oracle: " + why if why else None

    def _check_plan(self, con, name, kind, payload):
        """Codec identities, schema and rows of one plan; returns (why,
        consumed DataFrame, its rows)."""
        proto, wire = self.proto, self.wire
        if kind == "sql":
            direct = self.spark.sql(payload)
            plan = self.produce(direct)
            raw = wire.encode_plan(plan)
        else:
            raw = payload
            plan = wire.decode_plan(raw)
            if wire.encode_plan(plan) != raw:
                return "encode_plan(decode_plan(bytes)) != bytes", None, None
        # proto3 cannot tell an empty repeated field from an absent one, so
        # the wire identity holds up to wire.canonical
        if wire.decode_plan(wire.encode_plan(plan)) != wire.canonical(plan):
            return "decode_plan(encode_plan(p)) != canonical(p)", None, None
        if proto.loads(proto.dumps(plan)) != plan:
            return "loads(dumps(p)) != p", None, None
        df = self.deserialize(raw)
        rows = self._planted(name, [tuple(r) for r in df.collect()])
        if kind == "sql":
            want = [(f.name, f.dataType.simpleString())
                    for f in direct.schema.fields]
            got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            if got != want:
                return f"schema {got} vs {want}", df, rows
            if name in self.oracles:
                return None, df, rows
            return (checks.same_rows(rows, [tuple(r) for r in direct.collect()]),
                    df, rows)
        names = plan["relations"][0]["root"]["names"]
        if df.columns != names:
            return f"columns {df.columns} vs root names {names}", df, rows
        if name in GOLDEN_ORACLES:
            want = con.sql(GOLDEN_ORACLES[name]).fetchall()
            return checks.same_rows(rows, want), df, rows
        # g5: a seeded sample of nation names, stable across evaluations
        nations = {r[0] for r in con.sql("SELECT n_name FROM nation").fetchall()}
        if not {r[0] for r in rows} <= nations:
            return "sampled rows are not nation names", df, rows
        return checks.same_rows(rows, [tuple(r) for r in df.collect()]), df, rows


class Execution(Workload):
    """Registry entries executed to the noop sink."""

    sf = 0.01
    # a pass costs 9-11 s, so no serial warm-up pass fits a run
    warm_passes = 0
    min_passes = 2
    names = RELATIONAL + PIPELINES

    def __init__(self, spark, data_dir, seed, tracer=None):
        super().__init__(spark, data_dir, seed, tracer)
        import __spark_entry__ as entry
        self.entry = entry
        queries = entry.queries()
        self.ops = [(n, queries[n]) for n in self.names]

    def run_op(self, op) -> None:
        name, fn = op
        with self._span("build"):
            df = fn(self.spark, self.data_dir)
        if self.tracer:
            self.tracer.note_plan(df._jdf, force=True)
        with self._span("execute"):
            _noop(df)

    def check_op(self, op, con) -> str | None:
        name, fn = op
        df = fn(self.spark, self.data_dir)
        rows = self._planted(name, [tuple(r) for r in df.collect()])
        if name == "d2_minhash_pairs":
            return self._d2_property(con, df.columns, rows)
        rel = con.sql(self.entry.oracle_sql()[name])
        return checks.matches_oracle(name, df.columns, rows,
                                     rel.columns, rel.fetchall())

    def _d2_property(self, con, cols, rows) -> str | None:
        ia, ib, ij = (cols.index(c) for c in ("doc_a", "doc_b", "jaccard"))
        pairs = [(r[ia], r[ib], r[ij]) for r in rows]
        con.execute("CREATE OR REPLACE TEMP TABLE pairs (a BIGINT, b BIGINT)")
        if pairs:
            con.executemany("INSERT INTO pairs VALUES (?, ?)",
                            [(a, b) for a, b, _ in pairs])
        exact = {(a, b): j for a, b, j in con.sql(D2_EXACT_SQL).fetchall()
                 if j >= 0.35}
        with open(os.path.join(self.data_dir, "planted_pairs.json")) as f:
            planted = json.load(f)
        return checks.jaccard_pairs_hold(pairs, exact, planted)


WORKLOADS = {"interchange": Interchange, "execution": Execution}
