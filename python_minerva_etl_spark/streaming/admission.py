"""Admission control for the three registered stream readers
(``minerva_avro``, ``minerva_delta``, ``minerva_iceberg``): one cap
option parser (:func:`cap_option`), one admission loop
(:func:`admit`), and the checkpoint-scoped persisted admission
watermark (:func:`admission_state`).  Each source keeps its own
offset shape and its own rule for priming the watermark.

The Python DataSource streaming API exposes no ``ReadLimit`` hook
and calls ``latestOffset`` before revealing any start offset, so a
rate-limited source's driver-side watermark starts each (re)started
query UNKNOWN — and the first micro-batch after a restart would plan
the ENTIRE backlog as one batch, the exact failure admission control
exists to prevent (a restart over a 100 TB drop directory must not
scan 100 TB in micro-batch zero).

``option("admissionStateDir", dir)`` closes the hole: the source
persists its rate-limit watermark to ``dir`` (atomic tmp+rename, one
tiny JSON per advance) and reloads it on construction, so the first
``latestOffset`` of a restarted query caps relative to where the
previous run left off.  The directory plays the same role as a
checkpoint: it must be scoped to ONE query (sharing it across queries
caps them against each other's progress), and it must outlive the
query like the checkpoint does.

Persistence points and why they suffice:

* ``latestOffset`` — after computing the (capped) end.  Every offset
  Spark ever writes to its own offset log came out of some
  ``latestOffset`` call, so persisting here keeps the state file
  AT OR AHEAD of the log.  A reloaded watermark therefore never
  makes ``latestOffset`` return an offset BELOW the restart point —
  returning one would regress Spark's offset log (and, for Iceberg,
  plan a start→ancestor walk that cannot exist).
* ``commit`` — belt-and-braces refresh (also covers a run whose
  only progress was replaying a pre-existing plan).

The watermark is a rate-limit HINT, never a correctness input:
exactly-once comes from Spark's offset log and the sources' range
semantics.  A stale (behind) file merely makes the first batch
bigger than the cap; a file one ``latestOffset`` AHEAD of the log
(crash between persist and Spark's log write) merely lets the first
restarted batch cover up to two caps' worth.  Both are bounded; the
unbounded case is gone.

Misuse is refused loudly: the state file records which source and
which source path wrote it, and a reload for a different source or
path raises instead of silently rate-limiting against a foreign
stream's progress.
"""
from __future__ import annotations

import json
import os
import tempfile

from .source_api import _flag, _opt

_STATE_NAME = "admission-watermark.json"


class PersistedWatermark:
    """Atomic single-value store for a source's admission watermark.

    ``value`` may be any JSON-serializable scalar the source uses to
    order its progress (file name for the Avro drop source, version
    int for Delta, snapshot id for Iceberg).
    """

    def __init__(self, state_dir: str, source: str, source_path: str):
        self.dir = state_dir
        self.source = source
        self.source_path = source_path
        self._last_saved = None

    def _file(self) -> str:
        return os.path.join(self.dir, _STATE_NAME)

    def load(self):
        """Return the persisted watermark value, or None if absent.

        Refuses a state file written by a different source type or
        for a different source path — a shared/misconfigured
        admissionStateDir must fail loudly, not cap this query
        against a foreign stream's progress.
        """
        try:
            with open(self._file()) as fh:
                state = json.load(fh)
        except FileNotFoundError:
            return None
        if (state.get("source") != self.source
                or state.get("source_path") != self.source_path):
            raise ValueError(
                f"admissionStateDir {self.dir!r} belongs to "
                f"source {state.get('source')!r} on path "
                f"{state.get('source_path')!r}, not {self.source!r} "
                f"on {self.source_path!r} — each rate-limited query "
                "needs its own state dir (like a checkpoint)")
        self._last_saved = state.get("watermark")
        return self._last_saved

    def save(self, value) -> None:
        """Persist ``value`` (atomic tmp+rename); no-op if unchanged."""
        if value is None or value == self._last_saved:
            return
        os.makedirs(self.dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=".admission-", suffix=".tmp", dir=self.dir)
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump({"v": 1, "source": self.source,
                           "source_path": self.source_path,
                           "watermark": value}, fh)
            os.replace(tmp, self._file())
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        self._last_saved = value


def cap_option(options: dict, source: str, name: str) -> int | None:
    """The positive-integer rate-limit option ``name``, or None when
    it is not set."""
    raw = _opt(options, name)
    if raw is None:
        return None
    cap = int(raw)
    if cap < 1:
        raise ValueError(f"{source}: {name} must be a positive "
                         f"integer, got {raw!r}")
    return cap


def admit(units, caps) -> int:
    """How many leading ``units`` one micro-batch takes: units in
    order until adding the next would exceed some cap — but always at
    least one, so a unit bigger than a cap still drains alone (the
    cap can bound, not wedge).  ``caps`` is a list of ``(cost, cap)``
    pairs, ``cost(unit) -> int``; a cap of None is off and its cost
    is never computed, and when every cap is off all units are
    taken."""
    caps = [(cost, cap) for cost, cap in caps if cap is not None]
    totals = [0] * len(caps)
    taken = 0
    for unit in units:
        costs = [cost(unit) for cost, _ in caps]
        if taken and any(t + c > cap for t, c, (_, cap)
                         in zip(totals, costs, caps)):
            break
        totals = [t + c for t, c in zip(totals, costs)]
        taken += 1
    return taken


def admission_state(options: dict, source: str, source_path: str,
                    capped: bool, floor):
    """``(state, watermark)`` for a rate-limited stream reader:
    ``state`` is the PersistedWatermark from ``admissionStateDir``
    (None when unset), ``watermark`` the initial admission watermark
    (None = unknown, today's uncapped first batch).

    A state dir requires a cap: without any rate limit there is no
    watermark to persist, so the misconfiguration is refused rather
    than ignored.

    ``option("assumeFreshStart", "true")`` closes the cold-backlog
    hole of a BRAND-NEW query: with the required ``admissionStateDir``
    and NO state file, the watermark primes to ``floor`` (the
    source's epoch), so even the very first ``latestOffset`` of the
    query's first run caps — a 100 TB initial snapshot/backlog drains
    in bounded batches from batch zero instead of planning as one
    batch.  The two-key interlock makes it safe: every rate-limited
    run persists at its first ``latestOffset``, so a state file
    EXISTS for any query that ever ran — its absence plus the user's
    explicit fresh-start assertion is the only combination that
    primes low.  A reloaded watermark always wins (restart detected,
    assertion ignored).  The residual misuse — deleting the state
    dir while keeping the checkpoint AND passing assumeFreshStart —
    is the same class of error as deleting half a checkpoint: the
    state dir's lifecycle is bound to the checkpoint's."""
    sd = _opt(options, "admissionStateDir")
    fresh = _flag(options, "assumeFreshStart")
    if sd is None:
        if fresh:
            raise ValueError(
                "assumeFreshStart requires admissionStateDir — the "
                "state file is how a restart is told apart from a "
                "fresh start; without it a restarted query would "
                "cap from the epoch, regress Spark's offset log, "
                "and double-read after a crash")
        return None, None
    if not capped:
        raise ValueError(
            "admissionStateDir is set but no rate limit is — pass "
            "maxFilesPerTrigger / maxBytesPerTrigger (or the "
            "source's equivalent) alongside it")
    state = PersistedWatermark(str(sd), source, source_path)
    loaded = state.load()
    if loaded is not None:
        return state, loaded
    return state, floor if fresh else None
