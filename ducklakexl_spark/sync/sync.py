"""Catalog ↔ workbook synchronization — the reference's _pull/_push
orchestration (ducklakexl.py:400-464, 512-536) over any WorkbookClient.

Bootstrap rule is the reference's (ducklakexl.py:248-296): ensure one
sheet per catalog table (names per the 31-char stripping rule); if ALL
sheets already existed → pull (adopt remote state); else → push (project
local state out).

Push is changed-tables-only — the delta-push the reference's README
plans (README.md:160-163; its code clears and rewrites all ~19 sheets per
statement).  The catalog's :class:`CatalogTables` numbers every change
to a table, and push serializes and fingerprints only the tables whose
number moved since it last pushed or adopted them.  Of those, it
rewrites only the sheets whose payload differs from the last synchronized
state.  A statement that changed nothing, any read, returns before
serializing a table or reading the remote snapshot sheet.  A typical DML
statement touches 4-6 catalog tables, so this also drops the
per-statement HTTP round-trips by ~3x on the OneDrive backend.

Pull is changed-workbook-only: it reads every sheet (one fan-out) and
fingerprints each raw payload the same way.  When every non-empty sheet
matches the payload this instance last pushed or adopted, the workbook
is unchanged and the pull returns without coercing a cell or touching
the catalog store; unsaved local state (a ``compact()``, an open
transaction) therefore survives it.  Only when some sheet differs (an
external edit, another writer's push) does the pull adopt, exactly like
the reference: every sheet is coerced and replaces its catalog table,
and the store is rewritten under its commit lock.  A backend that
re-formats cells on a round trip never matches and always adopts.
"""

from __future__ import annotations

import hashlib

from ducklakexl_spark.catalog.catalog import DuckLakeCatalog
from ducklakexl_spark.catalog.schemas import CATALOG_SCHEMAS, sheet_name
from ducklakexl_spark.catalog.store import conform
from ducklakexl_spark.sync.coercions import pull_coerce, push_serialize


def _fingerprint(header, rows) -> str:
    h = hashlib.md5()
    h.update("\x1f".join(header).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(
            "\x1f".join("" if v is None else str(v) for v in r).encode()
        )
    return h.hexdigest()


def _max_snapshot(header, rows) -> int | None:
    """Highest snapshot_id in a raw snapshot-sheet payload, or None."""
    try:
        idx = header.index("snapshot_id")
    except (ValueError, AttributeError):
        return None
    best = None
    for r in rows:
        try:
            v = int(float(r[idx]))
        except (TypeError, ValueError, IndexError):
            continue
        best = v if best is None else max(best, v)
    return best


class WorkbookSync:
    """Catalog ↔ workbook mirror with WORKBOOK-plane optimistic
    concurrency: the reference's TODO list sketches a semaphore sheet
    for OneDrive ACID (README.md:148-154); the better variant it also
    names — version the state and detect conflicts — falls out of the
    MVCC catalog: push re-reads the remote snapshot sheet and REFUSES
    to clobber a workbook another writer advanced since our pull
    (raising the same ConcurrentWriteError the local store uses; the
    loser re-runs its statement, which pulls the winner's state)."""

    def __init__(self, workbook, check_remote: bool = True):
        self.workbook = workbook
        self._sheet_for = {t: sheet_name(t) for t in CATALOG_SCHEMAS}
        # table -> fingerprint of the payload last known to be on the
        # remote sheet (written by us, or adopted by a pull)
        self._synced: dict[str, str] = {}
        # table -> catalog change number whose payload _synced holds
        self._pushed: dict[str, int] = {}
        self.check_remote = check_remote
        # remote snapshot id observed at last pull/push (None = unknown)
        self._remote_snapshot: int | None = None

    def initialize(self, catalog: DuckLakeCatalog) -> None:
        existing = set(self.workbook.sheet_names())
        needed = set(self._sheet_for.values())
        missing = needed - existing
        for s in sorted(missing):
            self.workbook.create_sheet(s)
        if not missing and existing >= needed:
            self.pull(catalog)
        else:
            self.push(catalog)

    def pull(self, catalog: DuckLakeCatalog) -> bool:
        """Workbook → catalog: read every sheet; unless the workbook is
        unchanged since this instance last synced it, coerce to declared
        dtypes, truncate-and-replace the catalog tables, atomic store
        commit.  Returns whether remote state was adopted.

        Backends exposing ``read_sheets`` get the concurrent per-sheet
        fan-out (one gather over ~19 sheets instead of serialized
        round-trips — the reference's _session_pull_all,
        ducklakexl.py:467-481); others fall back to sequential reads."""
        items = list(self._sheet_for.items())
        if hasattr(self.workbook, "read_sheets"):
            results = self.workbook.read_sheets([s for _t, s in items])
        else:
            results = [self.workbook.read_sheet(s) for _t, s in items]
        # empty sheet: keep local table (fresh workbook)
        raw = [(t, h, r) for (t, _s), (h, r) in zip(items, results) if h]
        if all(self._synced.get(t) == _fingerprint(h, r) for t, h, r in raw):
            return False
        new_tables = {t: conform(t, pull_coerce(t, h, r)) for t, h, r in raw}
        # only adopt a remote state that is a valid catalog (has snapshots)
        snap = new_tables.get("ducklake_snapshot")
        if snap is None or snap.empty:
            return False
        catalog.tables.update(new_tables)
        for t in self._sheet_for:  # the adopted state is a new catalog state
            catalog.tables.touch(t)
        with catalog.store.commit_lock():
            catalog.store.save(catalog.tables)
        # keep the LOCAL store's optimistic-concurrency baseline in sync
        # with the adoption — otherwise the first write after an
        # adopt-pull spuriously raises ConcurrentWriteError against our
        # own save (latent until a fresh engine pulled THEN wrote)
        catalog._base_snapshot = catalog.current_snapshot
        # the adopted state IS the remote state: seed the dirty tracker so
        # the next push rewrites only tables the engine then mutates
        for t in self._sheet_for:
            self._synced[t] = _fingerprint(
                *push_serialize(t, catalog.tables[t])
            )
        self._pushed = dict(catalog.tables.versions)
        self._remote_snapshot = catalog.current_snapshot
        return True

    def push(self, catalog: DuckLakeCatalog, force: bool = False) -> int:
        """Catalog → workbook: serialize the tables changed since the last
        push or adopting pull, clear+rewrite the sheets whose payload
        differs from the last sync (``force=True`` serializes and rewrites
        all — used when remote state is unknown).  Concurrent fan-out via
        ``write_sheets`` when the backend has it (the reference's
        _session_push_all, ducklakexl.py:539-550).  Returns the number of
        sheets written.  Inside an open transaction nothing is written:
        the COMMIT or ROLLBACK statement publishes."""
        if catalog.in_txn():
            return 0
        versions = catalog.tables.versions
        changed = [
            t for t in self._sheet_for
            if force or self._pushed.get(t) != versions.get(t)
        ]
        if not changed:
            return 0
        dirty = []
        for t in changed:
            header, rows = push_serialize(t, catalog.tables[t])
            fp = _fingerprint(header, rows)
            if force or self._synced.get(t) != fp:
                dirty.append((t, self._sheet_for[t], header, rows, fp))
        if not dirty:
            self._pushed.update((t, versions.get(t)) for t in changed)
            return 0
        if self.check_remote and self._remote_snapshot is not None:
            # workbook-plane optimistic concurrency: one extra sheet
            # read detects a concurrent writer's commit between our
            # pull and this push
            rh, rr = self.workbook.read_sheet(
                self._sheet_for["ducklake_snapshot"]
            )
            remote = _max_snapshot(rh, rr)
            if remote is not None and remote > self._remote_snapshot:
                from ducklakexl_spark.catalog.catalog import (
                    ConcurrentWriteError,
                )

                raise ConcurrentWriteError(
                    f"workbook advanced to snapshot {remote} (this writer "
                    f"pulled {self._remote_snapshot}): re-run the "
                    "statement to adopt the other writer's state"
                )
        payloads = [(sheet, header, rows) for _t, sheet, header, rows, _f in dirty]
        if hasattr(self.workbook, "write_sheets"):
            self.workbook.write_sheets(payloads)
        else:
            for sheet, header, rows in payloads:
                self.workbook.write_sheet(sheet, header, rows)
        for t, _sheet, _h, _r, fp in dirty:
            self._synced[t] = fp
        self._pushed.update((t, versions.get(t)) for t in changed)
        self._remote_snapshot = catalog.current_snapshot
        return len(dirty)
