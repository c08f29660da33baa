"""The benchmark's workloads: what one op is and how its output is checked.

``queries`` runs registry queries to their full result (``toArrow()``);
``etl_ticks`` runs the settings-driven ETL jobs as
cron ticks over a growing source. Each workload gives the ops of one pass
in a seeded order, runs one op, and checks the outputs of a run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# key family -> registry keys; "sql" keys are scan/exchange/aggregate
# bound, "llm" keys cross the Python boundary or iterate on the driver.
# Every op here passes its checks on every seed. Left out because they fail
# on the seeded inputs: q_graph_closure and q_graph_pagerank (oracle
# mismatch on holed part keys), q_flagship_revenue_cube and q_groupby_multi
# (a money sum 0.01 off the oracle on some seeds).
QUERY_KEYS = {
    "sql": (
        "q_join_inner",
        "q_cube_dense",
        "q_window_moving_avg",
    ),
    "llm": (
        "q_graph_hits",
        "q_heavy_hitters",
    ),
}
# job -> the source table whose arrival drives it. The reviews job is left
# out: its split-tick upsert of delta-only aggregates differs from a
# single-shot tick on every seed.
ETL_JOBS = {"scd2": "events", "curate": "documents"}
# curate names each curated partition after its batch's last doc_id, so the
# partition value differs between a ticked and a single-shot run by design
BATCH_IDENTITY_COLUMNS = {"_batch"}


def _row_key(row: dict) -> str:
    return repr(sorted(row.items()))


def table_hash(table: pa.Table) -> str:
    """Order-insensitive hash of a result table's rows and column names."""
    rows = sorted(_row_key(r) for r in table.to_pylist())
    h = hashlib.sha256(repr(sorted(table.column_names)).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


class QueryWorkload:
    """One op = ``all_queries()[key](spark, dir).toArrow()``."""

    def __init__(self, families: dict[str, tuple[str, ...]], data_dir: str):
        from modevetl_spark.queries import all_oracle, all_queries

        self.family = {k: fam for fam, keys in families.items() for k in keys}
        self.keys = tuple(self.family)
        self.data_dir = data_dir
        self.queries = all_queries()
        self.oracle = all_oracle()
        self.reference: dict[str, tuple[str, str | None]] = {}  # key -> (hash, oracle verdict)

    def plan(self, rng: np.random.Generator) -> list[str]:
        return [str(k) for k in rng.permutation(self.keys)]

    def run_op(self, spark, key: str, span) -> dict:
        with span("build"):
            df = self.queries[key](spark, self.data_dir)
        with span("action"):
            table = df.toArrow()
        return {"result": table, "df": df}

    def check(self, records: list[dict]) -> None:
        """Oracle-check the first result of each key; every later result of
        the key must hash the same. Sets ``error`` on failing records and
        drops the results."""
        for rec in records:
            df = rec.pop("df", None)
            if rec["error"]:
                continue
            key, table = rec["op"], rec.pop("result")
            h = table_hash(table)
            if key not in self.reference:
                self.reference[key] = (h, self.check_oracle(key, df))
            ref_hash, verdict = self.reference[key]
            if verdict:
                rec["error"] = verdict
            elif h != ref_hash:
                rec["error"] = "repeat_hash: result differs from the oracle-checked result"

    def check_oracle(self, key: str, df) -> str | None:
        """None if the op's DataFrame matches the DuckDB oracle on the same
        inputs under the repository's ``tests.oracle.compare``, else what
        failed."""
        from tests.oracle import compare, duck_con

        con = duck_con(self.data_dir)
        try:
            compare(df, con, self.oracle[key])
        except AssertionError as e:
            return f"oracle: {e}".splitlines()[0]
        finally:
            con.close()
        return None


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def read_sink(job_dir: str) -> dict[str, list[str]]:
    """Rows of every parquet store under a job's sink, as sorted row keys.
    A store is a top-level subdirectory (or the sink itself); ``k=v`` path
    segments become columns, batch-identity columns are dropped."""
    stores: dict[str, list[str]] = {}
    for dirpath, _, names in os.walk(job_dir):
        rel = os.path.relpath(dirpath, job_dir).split(os.sep)
        store = "." if rel[0] == "." or "=" in rel[0] else rel[0]
        parts = dict(seg.split("=", 1) for seg in rel if "=" in seg)
        for n in names:
            if not n.endswith(".parquet") or n.startswith((".", "_")):
                continue
            for row in pq.read_table(os.path.join(dirpath, n)).to_pylist():
                row.update(parts)
                for c in BATCH_IDENTITY_COLUMNS:
                    row.pop(c, None)
                stores.setdefault(store, []).append(_row_key(row))
    return {k: sorted(v) for k, v in stores.items()}


class EtlWorkload:
    """One op = ``modevetl_spark.jobs.run_job(spark, job, settings)`` for one
    job at one tick. A pass runs every tick in order over fresh sink and
    state directories."""

    def __init__(self, jobs: dict[str, str], inputs_dir: str, manifest: dict, work: str):
        from modevetl_spark.jobs import run_job

        self.jobs = jobs
        self.inputs_dir = inputs_dir
        self.manifest = manifest
        self.n_ticks = manifest["n_ticks"]
        self.work = work
        self.run_job = run_job
        self._seen: dict[str, dict] = {}

    def settings(self, pass_id: str, tick: int) -> dict:
        base = os.path.join(self.work, "etl", pass_id)
        return {
            "source": {"sf_dir": os.path.join(self.inputs_dir, f"tick-{tick}")},
            "sink": {"dir": os.path.join(base, "sink")},
            "state": {"dir": os.path.join(base, "state")},
        }

    def plan(self, rng: np.random.Generator) -> list[tuple[int, str]]:
        return [
            (tick, str(job))
            for tick in range(self.n_ticks)
            for job in rng.permutation(list(self.jobs))
        ]

    def run_op(self, spark, op: tuple[int, str], span, pass_id: str) -> dict:
        tick, job = op
        with span("run_job"):
            n = self.run_job(spark, job, self.settings(pass_id, tick))
        return {"result": n}

    def reference(self, spark) -> None:
        """One single-shot tick of every job over the whole input."""
        self.cleanup("reference")
        for job in self.jobs:
            self.run_job(spark, job, self.settings("reference", self.n_ticks - 1))

    def bytes_written(self, pass_id: str) -> int:
        """Bytes of files created or rewritten under the pass's sink and
        state directories since the previous call for that pass."""
        base = os.path.join(self.work, "etl", pass_id)
        now = _files(base)
        before = self._seen.get(pass_id, {})
        self._seen[pass_id] = now
        return sum(v[2] for p, v in now.items() if before.get(p) != v)

    def delta_bytes(self) -> int:
        """Parquet bytes of the delta rows every job reads in one pass."""
        return sum(sum(self.manifest["delta_bytes"][t]) for t in self.jobs.values())

    def sink_stats(self, pass_id: str) -> tuple[int, int]:
        files = _files(os.path.join(self.work, "etl", pass_id, "sink"))
        data = [v[2] for p, v in files.items() if p.endswith(".parquet")]
        return len(data), sum(data)

    def check(self, records: list[dict]) -> None:
        """Check one pass: each job's sink after the last tick must equal a
        single-shot tick (else all the job's ticks fail) and the empty tick
        must return 0. Sets ``error`` on failing records, then removes the
        pass's sink and state."""
        pass_id = f"pass-{records[0]['pass']}"
        failures = self._sink_failures(pass_id)
        for rec in records:
            tick, job = rec["op"]
            if rec["error"]:
                continue
            if job in failures:
                rec["error"] = failures[job]
            elif tick == self.n_ticks - 1 and rec["result"] != 0:
                rec["error"] = f"empty_tick: returned {rec['result']} rows, want 0"
        self.cleanup(pass_id)

    def _sink_failures(self, pass_id: str) -> dict[str, str]:
        """job -> failure message, for jobs whose sink or watermark after
        the pass differs from the single-shot reference."""
        failures = {}
        for job in self.jobs:
            ref = self.settings("reference", 0)
            got = self.settings(pass_id, 0)
            want_rows = read_sink(os.path.join(ref["sink"]["dir"], job))
            got_rows = read_sink(os.path.join(got["sink"]["dir"], job))
            if got_rows != want_rows:
                missing = sum(
                    len(set(v) - set(got_rows.get(s, []))) for s, v in want_rows.items()
                )
                total = sum(len(v) for v in want_rows.values())
                failures[job] = (
                    f"single_shot: {missing} of {total} sink rows of one single-shot "
                    f"tick are missing or different after the last tick"
                )
                continue
            marks = []
            for s in (ref, got):
                with open(os.path.join(s["state"]["dir"], f"{job}.json")) as f:
                    marks.append(json.load(f))
            if marks[0] != marks[1]:
                failures[job] = f"single_shot: watermark {marks[1]} != {marks[0]}"
        return failures

    def cleanup(self, pass_id: str) -> None:
        shutil.rmtree(os.path.join(self.work, "etl", pass_id), ignore_errors=True)
        self._seen.pop(pass_id, None)
