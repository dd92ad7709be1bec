"""The workloads: their inputs, ops and correctness checks.

Each op is one call chain into the engine's public API ending in a write.
``warm`` runs an op class once, untimed, and checks its output against
DuckDB. ``timed`` runs it for measurement and checks it too: grep ops by
an exact fingerprint taken during the write by ``DataFrame.observe``,
queries by the row count the warm pass verified in full.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import duckdb

import datagen
from checks import compare_rows
from spans import Tracer, wrapped_load_table


@dataclass(frozen=True)
class Op:
    key: str
    kind: str  # "distgrep" | "ordered" | "parquet" | "query"
    pattern: str = ""
    mode: str = "contains"
    case_sensitive: bool = True


def _duck(tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    return con


def _keep_latest(parent: str, keep: str, n: int = 2) -> None:
    """Delete all but the ``n`` newest input dirs beside ``keep``."""
    dirs = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[n:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


class Workload:
    name: str
    pass_s: float  # about one steady pass over the op mix, for --seconds
    refs_per_op: int  # host_ref() runs before each timed op; some 25 a run
    ops: list[Op]

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work, self.seed, self.tiny = work, seed, tiny
        self.tmp = os.path.join(work, "tmp")
        self.expected: dict[str, object] = {}
        self.input_mb: dict[str, float] = {}

    def inputs_dir(self, tag: str) -> str:
        parent = os.path.join(self.work, "inputs", self.name)
        os.makedirs(parent, exist_ok=True)
        d = os.path.join(parent, f"{tag}-seed{self.seed}")
        _keep_latest(parent, d)
        return d

    def prepare(self) -> None:
        """Make (or reuse) this seed's inputs and their oracle answers."""
        raise NotImplementedError

    def warm_source(self, spark) -> None:
        """Touch the inputs once, as part of engine warm-up."""
        raise NotImplementedError

    def warm(self, spark, op: Op) -> str | None:
        """Run ``op`` untimed and check its whole output; None when correct."""
        raise NotImplementedError

    def timed(self, spark, op: Op, tracer: Tracer | None) -> tuple[float, str | None]:
        """Run ``op``; return its latency and the outcome of its check."""
        raise NotImplementedError


# --- grep_corpus -------------------------------------------------------------


def _fp_spark():
    """Order-free fingerprint of a (line, freq) result, as Spark columns."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5("line"), 1, 6), 16, 10).cast("long")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum("freq"), F.lit(0)).alias("freq"),
        F.coalesce(F.sum(F.col("freq") * F.octet_length("line")), F.lit(0)).alias("bytes"),
        F.coalesce(F.sum(h), F.lit(0)).alias("h"),
        F.coalesce(F.sum(F.col("freq") * (h % 65521)), F.lit(0)).alias("fh"),
    ]


_H_DUCK = "('0x' || substr(md5(line), 1, 6))::BIGINT"
_FP_DUCK = (
    f"count(*), coalesce(sum(freq), 0), coalesce(sum(freq * strlen(line)), 0), "
    f"coalesce(sum({_H_DUCK}), 0), coalesce(sum(freq * ({_H_DUCK} % 65521)), 0)"
)


def _match_duck(op: Op) -> str:
    pat = op.pattern.replace("'", "''")
    if op.mode == "regex":
        return f"regexp_matches(line, '{pat}')"
    if not op.case_sensitive:
        return f"contains(lower(line), lower('{pat}'))"
    return f"contains(line, '{pat}')"


class GrepCorpus(Workload):
    """The reference's query over a seeded multi-file text corpus."""

    name = "grep_corpus"
    pass_s = 7.0
    refs_per_op = 1
    ops = [
        Op("common", "distgrep", "Achille"),
        Op("rare", "distgrep", "Pelide"),
        Op("zero", "distgrep", "Xanto"),
        Op("empty", "distgrep", ""),
        Op("multi_hit", "distgrep", "ira"),
        Op("regex", "distgrep", "Atride|Priamo", mode="regex"),
        Op("nocase", "distgrep", "achille", case_sensitive=False),
        Op("ordered", "ordered", "(?i)achille|pelide", mode="regex"),
        Op("parquet", "parquet", "Atride"),
    ]

    def prepare(self) -> None:
        mb, files = (3, 4) if self.tiny else (48, 8)
        d = self.inputs_dir(f"corpus{mb}mb")
        self.corpus = os.path.join(d, "text")
        self.out = os.path.join(self.work, "out", "grep.parquet")
        fp_path = os.path.join(d, "oracle.pickle")
        if not os.path.exists(fp_path):
            shutil.rmtree(d, ignore_errors=True)
            datagen.write_corpus(self.corpus, mb, self.seed, files)
            with open(fp_path + ".tmp", "wb") as f:
                pickle.dump(self._oracle(), f)
            os.replace(fp_path + ".tmp", fp_path)
        with open(fp_path, "rb") as f:
            self.expected, self.n_lines = pickle.load(f)
        mb_real = sum(e.stat().st_size for e in os.scandir(self.corpus)) / 1e6
        self.input_mb = {op.key: mb_real for op in self.ops}

    def _oracle(self):
        """DuckDB fingerprints of every op class, and the corpus line count."""
        con = _duck(self.tmp)
        # One column per line: the corpus has no \x01 bytes, quotes that
        # matter to a reader with quoting off, or empty lines.
        con.execute(
            "CREATE TABLE lines AS SELECT line, count(*) AS freq FROM "
            f"read_csv('{self.corpus}/*.txt', columns={{'line': 'VARCHAR'}}, delim=chr(1), "
            "quote='', escape='', header=false, auto_detect=false) GROUP BY line"
        )
        expected = {
            op.key: con.execute(f"SELECT {_FP_DUCK} FROM lines WHERE {_match_duck(op)}").fetchone()
            for op in self.ops
        }
        n_lines = con.execute("SELECT sum(freq) FROM lines").fetchone()[0]
        con.close()
        return expected, n_lines

    def warm_source(self, spark) -> None:
        spark.read.text(self.corpus).limit(1).collect()

    def run(self, spark, op, tracer, path):
        from pyspark.sql import Observation

        from distgrep_spark.operators.grep import distgrep, grep_lines
        from distgrep_spark.sources.readers import read_lines

        kw = dict(mode=op.mode, case_sensitive=op.case_sensitive)
        with _span(tracer, "sources.read_lines", "build"):
            lines = read_lines(spark, path)
        if op.kind == "parquet":
            with _span(tracer, "operators.grep.plan", "build"):
                out = grep_lines(lines, op.pattern, **kw)
            with _span(tracer, "exec", "exec"):
                out.write.mode("overwrite").parquet(self.out)
            return None
        with _span(tracer, "operators.grep.plan", "build"):
            out = distgrep(lines, op.pattern, ordered=op.kind == "ordered", **kw)
        obs = Observation()
        out = out.observe(obs, *_fp_spark())
        with _span(tracer, "exec", "exec"):
            out.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, op, obs, want: tuple) -> str | None:
        if op.kind == "parquet":
            con = _duck(self.tmp)
            rows, nbytes, fh = con.execute(
                "SELECT count(*), coalesce(sum(strlen(value)), 0), "
                f"coalesce(sum({_H_DUCK.replace('line', 'value')} % 65521), 0) "
                f"FROM read_parquet('{self.out}/*.parquet')"
            ).fetchone()
            con.close()
            got, want = (rows, nbytes, fh), (want[1], want[2], want[4])
        else:
            r = obs.get
            got = (r["rows"], r["freq"], r["bytes"], r["h"], r["fh"])
        return None if got == tuple(want) else f"fingerprint {got} != DuckDB {tuple(want)}"

    def warm(self, spark, op):
        # On the whole corpus: measured, the JIT keeps compiling the scan and
        # aggregation loops for some 40 s of op time, and a warm pass over
        # one of the eight files left the first timed pass up to 40% slower.
        return self.check(op, self.run(spark, op, None, self.corpus), self.expected[op.key])

    def timed(self, spark, op, tracer):
        t0 = time.perf_counter()
        obs = self.run(spark, op, tracer, self.corpus)
        t1 = time.perf_counter()
        return t1 - t0, self.check(op, obs, self.expected[op.key])

    def matched(self, op) -> int:
        """Input lines ``op`` matches."""
        return self.expected[op.key][1]

    def probe(self, spark) -> tuple[float, dict[tuple, float]]:
        """Layer probes for the traced run: the scan alone (median of 3),
        and the scan plus filter alone for each distinct pattern."""
        from distgrep_spark.operators.grep import grep_lines
        from distgrep_spark.sources.readers import read_lines

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        scan = statistics.median(noop(read_lines(spark, self.corpus)) for _ in range(3))
        filt: dict[tuple, float] = {}
        for op in self.ops:
            k = pattern_key(op)
            if k not in filt:
                lines = read_lines(spark, self.corpus)
                filt[k] = noop(grep_lines(lines, op.pattern, mode=op.mode, case_sensitive=op.case_sensitive))
        return scan, filt


def pattern_key(op: Op) -> tuple:
    return (op.pattern, op.mode, op.case_sensitive)


# --- registry workloads --------------------------------------------------------


class Registry(Workload):
    """Registered queries over seeded fixture tables, checked with ORACLES."""

    sf: float
    queries: list[str]

    def __init__(self, work, seed, tiny):
        super().__init__(work, seed, tiny)
        self.ops = [Op(q, "query") for q in self.queries]

    def prepare(self) -> None:
        sf = 0.001 if self.tiny else self.sf
        self.data = self.inputs_dir(f"sf{sf}")
        if not os.path.exists(os.path.join(self.data, "done")):
            shutil.rmtree(self.data, ignore_errors=True)
            datagen.write_tables(self.data, sf, self.seed)
            open(os.path.join(self.data, "done"), "w").close()
        self.table_mb = {
            t: os.path.getsize(os.path.join(self.data, f"{t}.parquet")) / 1e6
            for t in datagen.TABLE_NAMES
        }

    def warm_source(self, spark) -> None:
        spark.read.parquet(os.path.join(self.data, "region.parquet")).collect()

    def _oracle(self, name: str):
        """DuckDB's answer for ``name``, cached beside the input tables."""
        path = os.path.join(self.data, "oracle", f"{name}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        from distgrep_spark.queries import ORACLES

        con = _duck(self.tmp)
        for t in datagen.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        cur = con.execute(ORACLES[name])
        ans = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans

    def warm(self, spark, op):
        """Collect the result, compare it with DuckDB in full, and note the
        row count and the tables the query loads."""
        from distgrep_spark.queries import QUERIES

        loaded: set[str] = set()

        def record(fn, spark_, sf_dir, name, *a, **kw):
            loaded.add(name)
            return fn(spark_, sf_dir, name, *a, **kw)

        with wrapped_load_table(record):
            df = QUERIES[op.key](spark, self.data)
        rows, cols = df.collect(), df.columns
        self.expected[op.key] = len(rows)
        self.input_mb[op.key] = sum(self.table_mb[t] for t in loaded)
        dcols, drows = self._oracle(op.key)
        return compare_rows(rows, cols, drows, dcols)

    def timed(self, spark, op, tracer):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from distgrep_spark.queries import QUERIES

        t0 = time.perf_counter()
        with _span(tracer, "queries.build", "build"):
            df = QUERIES[op.key](spark, self.data)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with _span(tracer, "exec", "exec"):
            df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        rows = obs.get["rows"]
        want = self.expected[op.key]
        return t1 - t0, None if rows == want else f"{rows} rows, warm pass had {want}"


class CurationOps(Registry):
    name = "curation_ops"
    pass_s = 5.5
    refs_per_op = 2
    sf = 0.001
    # The build-heavy rlhf query and the pair kernel of the quality module.
    # Three queries fit a one-minute run on four cores with a cold pass and
    # four timed ones; the fourth pass buys more for the spread between runs
    # than dedup_simhash_radius_report (llm) did, whose latency varied most.
    queries = [
        "rlhf_preference_curation",
        "corpus_curation_pipeline",
        # relational control: no LLM operator
        "agg_pricing_summary",
    ]


WORKLOADS = {w.name: w for w in (GrepCorpus, CurationOps)}


def _span(tracer: Tracer | None, name: str, group: str):
    return tracer.span(name, group) if tracer else nullcontext()
