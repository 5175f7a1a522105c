"""Warm tables: state one process builds once and keeps across calls.

A warm family (the recipe state, the IVFADC index, the gram index, the
Z-ordered orders table) commits snapshot tables once per scale-factor
directory and serves later calls from them, the way a deployed harvester
keeps its harvest state between runs. Each family writes only its build
and its step bodies; this module keeps the lifecycle:

- **Build once.** :func:`warm_build` caches one :class:`Warm` per
  (family, sf dir). The first call pays the build, so bench's min-of-3
  prices the serve; every later call gets the same dict.
- **Scratch.** A build writes under its own ``{family}_warm_*`` temp
  directory, removed at interpreter exit.
- **Steps once.** :meth:`Warm.once` runs a named step (an ingest, a
  compaction, a retrain) once per state and hands it the step's fixed
  txn id for ``commit_snapshot_idempotent``, so a replayed commit lands
  once. The process latch sits on top of the txn check because that
  check guards only the table's current version: after a later version
  (a compaction) a replayed ingest would append again. With the latch,
  build → ingest → compact is re-entrant in any order.
- **One lock.** Builds and steps of every family run under one
  re-entrant lock: the registry gate calls entries from a thread pool,
  and two threads racing one commit would both pass the txn check
  against the pre-commit version. Builds of different families
  therefore run one at a time; a built state or a latched step is
  returned without taking the lock.
- **Failure.** A build or step that raises caches nothing and latches
  nothing; the next call runs it again.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
from typing import Any, Callable, TypeVar

T = TypeVar("T")
Build = Callable[[Any, str, "Warm"], None]

_LOCK = threading.RLock()
_CACHE: dict[tuple[str, str], Warm] = {}


class Warm(dict):
    """One family's warm state at one sf: table paths, committed
    versions and step latches as items, and the scratch ``root``."""

    def __init__(self, family: str, root: str) -> None:
        super().__init__()
        self.family = family
        self.root = root

    def tables(self, *names: str) -> None:
        """Point ``self[name]`` at a table directory under the root."""
        self.update({n: os.path.join(self.root, n) for n in names})

    def once(self, step: str, body: Callable[[str], T]) -> T:
        """``body(txn_id)``, run on the first call that reaches it and
        latched as ``self[step]``; every call returns that run's result.
        Popping the latch simulates a restart: the body runs again and
        its commits replay under the same txn id."""
        if step not in self:
            with _LOCK:
                if step not in self:
                    self[step] = body(f"{self.family}-warm-{step}-1")
        return self[step]


def warm_build(family: str) -> Callable[[Build], Callable[[Any, str], Warm]]:
    """Turn ``build(spark, sf, w)``, which commits the family's tables
    and records them in ``w``, into ``get(spark, sf) -> Warm``, which
    runs the build once per sf."""

    def wrap(build: Build) -> Callable[[Any, str], Warm]:
        @functools.wraps(build)
        def get(spark: Any, sf: str) -> Warm:
            key = (family, sf)
            if key not in _CACHE:
                with _LOCK:
                    if key not in _CACHE:
                        root = tempfile.mkdtemp(prefix=f"{family}_warm_")
                        atexit.register(shutil.rmtree, root, ignore_errors=True)
                        w = Warm(family, root)
                        build(spark, sf, w)
                        _CACHE[key] = w
            return _CACHE[key]

        return get

    return wrap
