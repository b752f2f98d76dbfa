"""Correctness gate: every output is compared against the catalog's DuckDB
oracle on the same generated inputs, by the canonical hash of
``tests/oracle.py`` (columns sorted by name, rows sorted, cells
null/float-normalized, sha256). All of it runs outside timed regions."""

from __future__ import annotations

import hashlib
import importlib
import threading
import traceback
from dataclasses import dataclass, field


def oracle_module():
    """The repository's oracle harness (``tests/oracle.py``)."""
    return importlib.import_module("tests.oracle")


def rows_hash(cols, rows) -> str:
    """``tests.oracle.spark_value_hash`` over already-collected rows."""
    c, canon = oracle_module()._canon(list(cols), [tuple(r) for r in rows])
    h = hashlib.sha256()
    h.update("\x01".join(c).encode())
    for r in canon:
        h.update(b"\x02")
        h.update("\x01".join(r).encode())
    return h.hexdigest()


def oracle_hash(sql: str, sf_dir: str) -> str:
    cols, rows = oracle_module().duckdb_run(sql, sf_dir)
    return rows_hash(cols, rows)


@dataclass
class Ledger:
    """Operations attempted and failed (exception or oracle mismatch)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, name: str, ok: bool, why: str = "") -> bool:
        with self._lock:  # serve clients record concurrently
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"{name}: {why}"[:400])
        return ok

    def check(self, name: str, got: str, want: str) -> bool:
        return self.record(name, got == want, f"hash {got[:12]} != oracle {want[:12]}")

    def exception(self, name: str, exc: BaseException) -> None:
        why = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        self.record(name, False, why)

    @property
    def error_rate(self) -> float:
        return self.failed / max(1, self.attempted)
