"""Cross-table consistent snapshots: a versioned catalog over TableStore.

TableStore gives SINGLE-table snapshot isolation (versioned dirs, each
committed by one atomic rename). A pipeline reading two tables mid-sync
can still observe a MIXED state -- table A already on its new version, table B
not yet -- which is exactly the torn read the reference's per-table
psycopg2 transactions cannot prevent across tables either (each table
syncs in its own process/transaction, sync:13-20). The CatalogStore
closes that gap the way Iceberg/Delta-style metastores do at fleet
scale: a catalog VERSION is one immutable JSON mapping
``{table: store_version}``, committed like a table version: a staged
body renamed to the next sequence number (``cat_v`` prefixed) under the
same ``file_lock`` and the same optimistic ``expect_version`` CAS
(``table_store._commit``). Readers that resolve every table through one
catalog version get a consistent multi-table snapshot regardless of what
writers publish meanwhile; committing the catalog version is the one
atomic "commit" of a multi-table sync wave.

Read path cost: one tiny JSON read per query plan -- data files are
the store's own (hardlinked) version dirs, so a catalog adds zero
bytes of data and zero shuffle.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame

from pgsf_spark.operators.table_store import (
    _UNCHECKED,
    TableStore,
    _commit,
    _committed,
)

_PREFIX = "cat_v"


class CatalogStore:
    """Versioned ``{table: store_version}`` mappings with atomic publish."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def current_version(self) -> str | None:
        versions = self.versions()
        return versions[-1] if versions else None

    def versions(self) -> list[str]:
        """Committed catalog versions, oldest first; the last is current."""
        return _committed(self.root, _PREFIX, ".json")

    def mapping(self, version: str | None = None) -> dict[str, str]:
        version = version or self.current_version()
        if version is None:
            raise FileNotFoundError(f"catalog at {self.root} has no published version")
        path = os.path.join(self.root, f"{version}.json")
        with open(path) as f:
            return json.load(f)["tables"]

    def publish(self, tables: dict[str, str], expect_version=_UNCHECKED) -> str:
        """Publish one immutable mapping: the body is staged under a hidden
        name, then committed as the next version by ``_commit`` (the table
        store's lock, CAS and rename), so a failed or killed publish leaves
        no listed version."""
        fd, staged = tempfile.mkstemp(prefix="_stage_", dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump({"written_at": time.time(), "tables": tables}, f)
        return _commit(self.root, staged, _PREFIX, ".json", expect_version)

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
        current version per table would reintroduce the torn read this
        class exists to prevent (a publisher can commit between two read()
        calls). Pin first, then pass the pin to every read()."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"catalog at {self.root} has no published version")
        return v

    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop old catalog versions (the catalog's own GC).

        Retains the newest ``keep`` versions, and always the newest one,
        which is the current version. Returns the deleted version names.
        Run ``TableStore.vacuum(...,
        keep_versions=referenced_versions(table))`` AFTER this, so store
        versions only the dropped epochs referenced become collectable --
        the retention pipeline is catalog-GC first, store-GC second.
        O(versions) unlinks of tiny JSON bodies; no data moves (data dirs
        belong to the store and its own vacuum)."""
        victims = self.versions()[: -max(keep, 1)]
        for v in victims:
            try:
                os.unlink(os.path.join(self.root, f"{v}.json"))
            except FileNotFoundError:
                pass
        return victims

    def referenced_versions(self, table: str) -> set[str]:
        """Store versions of ``table`` referenced by ANY published catalog
        version -- the catalog-aware retention set for ``TableStore.vacuum``.

        ``vacuum`` alone keeps the newest N versions, but knows nothing of catalog mappings: a published
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
