"""The benchmark's workloads, ``ingest`` and ``catalog``.

Each workload generates its seeded inputs and their expected answers in
``prepare`` (not timed). Once the session is up, ``op`` runs in a closed
loop, one op at a time, and ``check`` compares each op's outputs with the
expected answers outside the op's wall time. Only the package's public
functions are called.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from contextlib import contextmanager

from gen_dump import generate as generate_dump
from gen_tables import generate as generate_tables


def _dir_parquet(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


@contextmanager
def _parquet_to_noop():
    """Within the block, ``DataFrameWriter.parquet`` writes to Spark's
    ``noop`` sink instead: the whole plan runs, nothing is encoded."""
    from pyspark.sql.readwriter import DataFrameWriter

    parquet = DataFrameWriter.parquet
    DataFrameWriter.parquet = lambda self, path, *a, **kw: self.format("noop").save()
    try:
        yield
    finally:
        DataFrameWriter.parquet = parquet


SURQL_ROUNDS = 3  # timed rounds of the SurrealQL scripts in a traced ingest run


class Workload:
    name = ""
    warmup_ops: int  # ops run before timing starts, counted in setup_s
    # timed ops in an untraced run, however long they take: enough to
    # outlast --seconds 10 at the op times seen on a 4-core host, so their
    # number, and with it which still-settling op the median falls on,
    # does not follow the host's speed
    min_timed = 3
    layer_cuts: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, scale: float, corrupt: bool = False):
        self.seed, self.work, self.scale = seed, work, scale
        self.corrupt = corrupt  # perturb the expected answers, so checks must fail
        self.spark = None  # set by the harness once the session is up
        self.input_rows = 0
        self.input_bytes = 0
        self.layers: dict[str, float] = {}  # per-layer numbers fixed per run

    def prepare(self) -> None: ...

    def op(self, i: int) -> object:
        raise NotImplementedError

    def check(self, result, i: int) -> str | None:
        """None if ``result`` is correct, else what differs."""
        raise NotImplementedError

    def op_layers(self, result) -> dict[str, float]:
        """Per-layer numbers carried by an op's result."""
        return {}

    def finish(self) -> list[int]:
        """Checks made once per run, after the timed ops: indexes of the
        ops found wrong."""
        return []

    def trace_extras(self, census) -> list[dict]:
        """Extra measured steps of a traced run, as op records."""
        return []

    def cut(self, name: str) -> None:
        raise NotImplementedError


# --------------------------------------------------------------------------
# ingest: dump -> four tables -> parquet
# --------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest"
    warmup_ops = 2
    min_timed = 5  # timed ops took 2-4.6 s (1.8 s at the very fastest)
    layer_cuts = ("dump_reader", "parse_entities", "transform_entities", "build_tables")
    ENTITIES = 4000

    def prepare(self) -> None:
        self.dump = os.path.join(self.work, "dump.json")
        self.truth = generate_dump(self.seed, max(50, int(self.ENTITIES * self.scale)), self.dump)
        self.input_rows = self.truth["entities"]
        self.input_bytes = os.path.getsize(self.dump)
        if self.corrupt:
            self.truth["rows"]["Entity"] += 1
            self.truth["surql"]["count_p31"] += 1

    def op(self, i: int):
        from wikidata_to_surrealdb_spark.operators.ingest import load_dump, write_tables

        out = os.path.join(self.work, f"ingest_out_{i}")
        observed = write_tables(load_dump(self.spark, self.dump, "json"), out, observe=True)
        return observed, out

    def check(self, result, i: int) -> str | None:
        observed, out = result
        bytes_out, files = _dir_parquet(out)
        shutil.rmtree(out, ignore_errors=True)
        self.layers["write_tables.bytes_written"] = bytes_out
        self.layers["write_tables.files"] = files
        self.layers["write_tables.out_bytes_per_in_byte"] = bytes_out / self.input_bytes
        rows = {t: m["n_rows"] for t, m in observed.items()}
        claims = observed["Claims"]["total_claims"]
        if rows != self.truth["rows"] or claims != self.truth["total_claims"]:
            return f"rows {rows} claims {claims}, expected {self.truth['rows']} {self.truth['total_claims']}"
        return None

    def cut(self, name: str) -> None:
        """Run the ingest up to and including layer ``name`` into Spark's
        ``noop`` sink, so per-layer self time is a difference of medians."""
        from wikidata_to_surrealdb_spark.operators import ingest
        from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

        df = read_dump_lines(self.spark, self.dump, "json")
        if name == "dump_reader":
            return df.write.format("noop").mode("overwrite").save()
        df = ingest.parse_entities(df)
        if name == "parse_entities":
            return df.write.format("noop").mode("overwrite").save()
        df = ingest.transform_entities(df)
        if name == "transform_entities":
            return df.write.format("noop").mode("overwrite").save()
        # build_tables: write_tables itself (its staging, observations and
        # concurrent writes), with only the parquet sink swapped for noop
        with _parquet_to_noop():
            ingest.write_tables(ingest.build_tables(df), self.work, observe=True)

    def trace_extras(self, census) -> list[dict]:
        """Layer numbers that need extra jobs, measured after the timed ops
        of a traced run: rows in, dropped and claims out of the ingest
        layers, and SURQL_ROUNDS rounds of the SurrealQL scripts over the
        tables of one more ingest. Returns the rounds as op records."""
        from pyspark.sql import functions as F

        from wikidata_to_surrealdb_spark.operators import ingest
        from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

        t0 = time.perf_counter()
        lines = read_dump_lines(self.spark, self.dump, "json")
        parsed = ingest.parse_entities(lines)
        n_lines, n_parsed = lines.count(), parsed.count()
        claims = ingest.build_tables(ingest.transform_entities(parsed)).claims
        counts = {
            "dump_reader.lines": n_lines,
            "parse_entities.dropped_lines": n_lines - n_parsed,
            "build_tables.claims_out": claims.agg(F.sum(F.size("claims"))).first()[0],
        }
        self.layers.update(counts)
        t = self.truth
        expected = [t["lines"], t["dropped_lines"], t["total_claims"]]
        records = [{"phase": "counts", "wall_s": time.perf_counter() - t0,
                    "error": None if list(counts.values()) == expected
                    else f"layer counts {counts}, expected {expected}"}]

        tables = os.path.join(self.work, "surql_tables")
        ingest.write_tables(ingest.load_dump(self.spark, self.dump, "json"), tables)
        mix = SurqlMix(self.spark, tables, self.truth, self.seed)
        census.take(0.0)
        for i in range(SURQL_ROUNDS + 1):
            t0 = time.perf_counter()
            layers, wrong = mix.round(i)
            wall = time.perf_counter() - t0
            layers["surql.jobs"] = census.take(wall)["jobs"]
            records.append({"phase": "surql-warmup" if i == 0 else "surql", "wall_s": wall,
                            "error": "; ".join(wrong) or None, "layers": layers})
        return records


# --------------------------------------------------------------------------
# surql: the reference's own SurrealQL scripts over the ingested tables
# --------------------------------------------------------------------------

SURQL_SCRIPTS = {
    # Useful queries.md: Get number of episodes
    "episodes": """
    let $number_of_episodes = (select claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount as number_of_episodes from Entity where label = "{label}")[0].number_of_episodes;

    return $number_of_episodes;
    """,
    # Useful queries.md: Get Parts
    "parts": """
    let $parts = (select claims.claims[where id = Property:527].value.Thing as parts from Entity where label = "{label}")[0].parts;

    return $parts;
    """,
    # integration.rs-style count over a claims-path predicate
    "count_p31": """
    return count(select id from Entity where claims.claims[where id = Property:31] != []);
    """,
    # tests/data/test_filter.surql, then an UPDATE ... WHERE label =
    "filter": """
    let $delete = select claims, id from Entity
    where claims.claims[where id = Property:1113].value.Thing == [];

    let $entity = return (select id from $delete).id;
    let $claims = return (select claims from $delete).claims;

    delete $claims;
    delete $entity;

    update Entity SET number_of_episodes = 51 where label = "{label}";
    """,
}


class SurqlMix:
    """A round of the four scripts above, in a seeded order, over tables
    read back from an ingest's parquet output. Each script's result is
    materialised and compared with the dump generator's answer."""

    def __init__(self, spark, tables_dir: str, truth: dict, seed: int):
        self.spark, self.truth, self.seed = spark, truth["surql"], seed
        self.tables = {t: spark.read.parquet(f"{tables_dir}/{t}.parquet")
                       for t in ("Entity", "Property", "Lexeme", "Claims")}

    def _script(self, name: str, i: int) -> tuple[str, object]:
        """Script text and expected answer for script ``name`` in round ``i``."""
        sq = self.truth
        if name in ("episodes", "parts"):
            target = sq[name][i % len(sq[name])]
            return SURQL_SCRIPTS[name].replace("{label}", target["label"]), target["answer"]
        if name == "count_p31":
            return SURQL_SCRIPTS[name], sq["count_p31"]
        f = sq["filter"]
        return (SURQL_SCRIPTS[name].replace("{label}", f["update_label"]),
                [f["entity_rows"], f["claims_rows"], 1])

    def round(self, i: int) -> tuple[dict[str, float], list[str]]:
        """Run round ``i``: (per-layer numbers, wrong answers)."""
        from pyspark.sql import functions as F

        from wikidata_to_surrealdb_spark.plans.surql import parse, run_surql

        order = list(SURQL_SCRIPTS)
        random.Random(self.seed * 1_000_003 + i).shuffle(order)
        layers, wrong = {"surql.parse_ms": 0.0, "surql.run_ms": 0.0}, []
        for name in order:
            script, expected = self._script(name, i)
            t0 = time.perf_counter()
            parse(script)
            t1 = time.perf_counter()
            results, env = run_surql(self.spark, self.tables, script)
            if name in ("episodes", "parts"):
                got = results[1]
                if name == "parts" and got is not None:
                    got = [[r["tb"], r["id"]] for r in got]
            elif name == "count_p31":
                got = results[0]
            else:
                ent = env.tables["Entity"]
                got = [ent.count(), env.tables["Claims"].count(),
                       ent.where(F.col("number_of_episodes").isNotNull()).count()]
            t2 = time.perf_counter()
            layers["surql.parse_ms"] += (t1 - t0) * 1e3
            layers["surql.run_ms"] += (t2 - t1) * 1e3
            layers[f"surql.{name}.wall_ms"] = (t2 - t1) * 1e3
            if got != expected:
                wrong.append(f"surql {name}: got {got!r}, expected {expected!r}")
        return layers, wrong


# --------------------------------------------------------------------------
# catalog: a pass over catalog queries that reach the streaming state,
# LSH, similarity and iterative-checkpoint operators
# --------------------------------------------------------------------------

CATALOG_MIX = ("stream_sessionize_stateful", "dedup_minhash_lsh", "sim_pq_search", "er_resolve")


def _normalize(rows, columns) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, floats
    to 6 decimals (the catalog's own oracle-parity rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def val(v):
        if v is None:
            return ""
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    return sorted(tuple(val(r[i]) for i in order) for r in rows)


class Catalog(Workload):
    """One op is one pass over CATALOG_MIX, in its fixed order (a seeded
    order would let the seed decide which query absorbs the first-call
    warm-up). The seed sets the generated tables."""

    name = "catalog"
    warmup_ops = 1  # min_timed stays 3: steady passes took 6-9 s

    def prepare(self) -> None:
        self.data = os.path.join(self.work, "tables")
        self.rows = generate_tables(self.seed, self.data, self.scale)
        self.input_rows = sum(self.rows.values())
        self.input_bytes = sum(os.path.getsize(os.path.join(self.data, f"{t}.parquet"))
                               for t in self.rows)
        self.seen: list[tuple[int, dict]] = []

    def op(self, i: int):
        from wikidata_to_surrealdb_spark.plans.queries import QUERIES

        out = {}
        for q in CATALOG_MIX:
            t0 = time.perf_counter()
            df = QUERIES[q].fn(self.spark, self.data)
            rows = df.collect()
            out[q] = (time.perf_counter() - t0, df.columns, rows)
        return out

    def check(self, result, i: int) -> str | None:
        # compared with the DuckDB oracle once per run, in finish()
        self.seen.append((i, {q: _normalize(rows, cols) for q, (_t, cols, rows) in result.items()}))
        return None

    def finish(self) -> list[int]:
        import duckdb

        from wikidata_to_surrealdb_spark.plans.queries import QUERIES

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            expected = {}
            for q in CATALOG_MIX:
                rel = con.sql(QUERIES[q].oracle)
                expected[q] = _normalize(rel.fetchall(), rel.columns)
        finally:
            con.close()
        if self.corrupt:
            expected[CATALOG_MIX[0]] = expected[CATALOG_MIX[0]][1:]
        return [i for i, got in self.seen if got != expected]

    def op_layers(self, result) -> dict[str, float]:
        return {f"catalog.{q}.wall_s": t for q, (t, _c, _r) in result.items()}


WORKLOADS = {w.name: w for w in (Ingest, Catalog)}
