"""Oracle checks in a worker process.

A query's collected result is compared with its DuckDB oracle by
``tests/oracle_harness.compare``. The comparison runs in one spawned worker
process, so DuckDB's memory and CPU and the comparison's Python work stay
out of the driver process the benchmark measures, and checks overlap
untimed work. Submit only outside the timed phase and ``drain`` before
timing resumes.
"""

from __future__ import annotations

import multiprocessing
from concurrent.futures import ProcessPoolExecutor


class Collected:
    """A query result already collected, with the attributes
    ``oracle_harness.compare`` reads, so checking it runs nothing again."""

    def __init__(self, df):
        self.schema = df.schema
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


_CONS: dict[str, object] = {}  # the worker's DuckDB connection per corpus


def _compare(result: Collected, corpus: str, sql: str) -> dict:
    from oracle_harness import compare, duckdb_connection

    if corpus not in _CONS:
        _CONS[corpus] = duckdb_connection(corpus)
    return compare(result, _CONS[corpus], sql)


class OracleChecks:
    def __init__(self):
        self._pool = ProcessPoolExecutor(
            max_workers=1, mp_context=multiprocessing.get_context("spawn"))
        self._pending: list = []

    def submit(self, call, corpus: str, sql: str) -> None:
        """Queue the check of query ``call``'s collected result."""
        self._pending.append(
            (call, self._pool.submit(_compare, call.result, corpus, sql)))

    def drain(self) -> None:
        """Wait for every pending check; mark failed each call whose
        result differs from its oracle."""
        for call, fut in self._pending:
            report = fut.result()
            if not report["ok"]:
                call.ok = False
                call.error = f"oracle mismatch: {report['detail'] or report}"
        self._pending.clear()

    def close(self) -> None:
        self._pool.shutdown(wait=True)
