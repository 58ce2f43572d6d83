"""Cross-table consistent snapshots: a versioned catalog over TableStore.

TableStore gives SINGLE-table snapshot isolation (versioned dirs + an
atomic pointer flip). A pipeline reading two tables mid-sync can still
observe a MIXED state -- table A already on its new version, table B
not yet -- which is exactly the torn read the reference's per-table
psycopg2 transactions cannot prevent across tables either (each table
syncs in its own process/transaction, sync:13-20). The CatalogStore
closes that gap the way Iceberg/Delta-style metastores do at fleet
scale: a catalog VERSION is one immutable JSON mapping
``{table: store_version}``, published with the same
``file_lock``-serialized atomic pointer flip, the same optimistic
``expect_version`` CAS and the same version names (prefixed ``cat_v``)
as the table pointers themselves. Readers that
resolve every table through one catalog version get a consistent
multi-table snapshot regardless of what writers publish meanwhile;
flipping the catalog pointer is the one atomic "commit" of a
multi-table sync wave.

Read path cost: one tiny JSON read per query plan -- data files are
the store's own (hardlinked) version dirs, so a catalog adds zero
bytes of data and zero shuffle.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from pgsf_spark.operators.table_store import (
    _UNCHECKED,
    ConcurrentWriteError,
    TableStore,
    _new_version_name,
    _version_sort_key,
    file_lock,
)

_PREFIX = "cat_v"


class CatalogStore:
    """Versioned ``{table: store_version}`` mappings with atomic publish."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT.json")

    def current_version(self) -> str | None:
        try:
            with open(self._pointer()) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return None

    def versions(self) -> list[str]:
        """Published catalog versions, oldest first.

        Sorted on the parsed (ms, pid, seq) triple, not lexically: an
        unpadded pid segment would order same-millisecond publishes from
        different processes by string ('_99' after '_100')."""
        names = [
            f[: -len(".json")]
            for f in os.listdir(self.root)
            if f.startswith(_PREFIX) and f.endswith(".json")
        ]
        return sorted(names, key=_version_sort_key)

    def mapping(self, version: str | None = None) -> dict[str, str]:
        version = version or self.current_version()
        if version is None:
            raise FileNotFoundError(f"catalog at {self.root} has no published version")
        path = os.path.join(self.root, f"{version}.json")
        with open(path) as f:
            return json.load(f)["tables"]

    def publish(self, tables: dict[str, str], expect_version=_UNCHECKED) -> str:
        """Publish one immutable mapping; atomic flip, optional CAS.

        Same concurrency contract as TableStore._publish: every flip goes
        through ``file_lock`` on ``_PUBLISH_LOCK`` so an unchecked publish
        can never land inside a CAS publisher's check-then-replace window
        (lost update).
        """
        version = _new_version_name(_PREFIX)
        # Stage both files under .tmp names OUTSIDE the lock: versions()
        # only lists *.json, so a crash anywhere before the in-lock
        # renames leaves no half-published catalog version behind (a
        # body committed before the CAS check would read as published
        # even though the pointer never flipped to it).
        body = os.path.join(self.root, f"{version}.json")
        tmp_body = body + ".tmp"
        with open(tmp_body, "w") as f:
            json.dump(
                {"version": version, "written_at": time.time(), "tables": tables}, f
            )
        tmp_ptr = self._pointer() + f".{version}.tmp"
        with open(tmp_ptr, "w") as f:
            json.dump({"version": version, "written_at": time.time()}, f)
        with file_lock(os.path.join(self.root, "_PUBLISH_LOCK")):
            if expect_version is not _UNCHECKED:
                cur = self.current_version()
                if cur != expect_version:
                    os.unlink(tmp_ptr)
                    os.unlink(tmp_body)
                    raise ConcurrentWriteError(
                        f"catalog: expected current version {expect_version!r} "
                        f"but found {cur!r} -- another publisher won; re-read "
                        "and retry"
                    )
            # Commit the body first, then flip the pointer: a crash
            # between the two leaves an unreferenced (but complete)
            # version body, never a pointer to a missing body.
            os.replace(tmp_body, body)
            os.replace(tmp_ptr, self._pointer())
        return version

    def snapshot_current(
        self, store: TableStore, tables: list[str], expect_version=_UNCHECKED
    ) -> str:
        """Capture the store's CURRENT per-table versions as one catalog
        version -- the commit point of a multi-table sync wave."""
        mapping: dict[str, str] = {}
        for t in tables:
            v = store.current_version(t)
            if v is None:
                raise FileNotFoundError(f"table {t!r} has no published version")
            mapping[t] = v
        return self.publish(mapping, expect_version=expect_version)

    def pin(self) -> str:
        """Resolve the current catalog version ONCE for a reader.

        Multi-table consistency requires every table of one logical read
        to resolve through the SAME catalog version -- re-resolving the
        pointer per table would reintroduce the torn read this class
        exists to prevent (a publisher can flip the catalog between two
        read() calls). Pin first, then pass the pin to every read()."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"catalog at {self.root} has no published version")
        return v

    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop old catalog versions (the catalog's own GC).

        Retains the newest ``keep`` versions plus whatever the current
        pointer names (a pointer must never dangle). Returns the deleted
        version names. Run ``TableStore.vacuum(...,
        keep_versions=referenced_versions(table))`` AFTER this, so store
        versions only the dropped epochs referenced become collectable --
        the retention pipeline is catalog-GC first, store-GC second.
        O(versions) unlinks of tiny JSON bodies; no data moves (data dirs
        belong to the store and its own vacuum)."""
        versions = self.versions()
        cur = self.current_version()
        victims = [
            v for v in (versions[:-keep] if keep else versions) if v != cur
        ]
        for v in victims:
            try:
                os.unlink(os.path.join(self.root, f"{v}.json"))
            except FileNotFoundError:
                pass
        return victims

    def referenced_versions(self, table: str) -> set[str]:
        """Store versions of ``table`` referenced by ANY published catalog
        version -- the catalog-aware retention set for ``TableStore.vacuum``.

        ``vacuum`` alone keeps the newest N versions plus the current
        pointer, but knows nothing of catalog mappings: a published
        catalog epoch can pin a store version older than that window, and
        deleting it would make ``catalog.read(store, table, pinned)`` fail
        on a missing dir -- a torn time-travel read at fleet scale. Pass
        this set as ``vacuum(..., keep_versions=...)`` so every retained
        catalog version keeps resolving. O(catalog versions) tiny JSON
        reads, no data scan."""
        out: set[str] = set()
        for v in self.versions():
            mapping = self.mapping(v)
            if table in mapping:
                out.add(mapping[table])
        return out

    def read(self, store: TableStore, table: str, version: str) -> DataFrame:
        """Read ``table`` AT the given catalog version.

        ``version`` is required on purpose: callers must ``pin()`` once
        and reuse the pin across every table of one logical read. The
        mapping is immutable, so later store publishes cannot tear a
        multi-table read that resolved its versions here."""
        mapping = self.mapping(version)
        if table not in mapping:
            raise KeyError(f"table {table!r} not in catalog version {version!r}")
        return store.read(table, version=mapping[table])
