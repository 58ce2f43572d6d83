"""Python DataSource API: paged entity reads as a REAL custom Spark source.

The reference pages through REST result sets with a serial cursor
(reference download.py `fetch_batches`, query_bulk.py locator loop --
SURVEY S3 "paged query iterator"); this source re-expresses that contract
on the Spark 4 Python DataSource API (``pyspark.sql.datasource``), where
every page is an ``InputPartition``: 1000 executors pull 1000 pages
concurrently instead of one cursor walking them in sequence.

Spark-first design, all three pushdowns a source can honor:

  - **pages = parquet row groups** (the storage's native page): each
    partition reads exactly one row group, nothing rescans the file;
  - **column pruning**: the ``fields`` option (mapping-file projection,
    reference mapping P1) reaches the page read -- unreferenced columns
    are never decoded;
  - **typed filter pushdown** (``pushFilters``): EqualTo / GreaterThan /
    LessThan / In on scalar columns are (a) applied to row-group STATS to
    skip whole pages at planning time and (b) re-applied per batch at
    read time; unsupported filters are handed back to Spark for
    post-filtering, per the API contract.

Reads are vectorized end to end: ``read`` yields pyarrow RecordBatches
(the Arrow fast path), never per-row tuples.

Registered as ``spark.dataSource.register(EntityPagesSource)`` under the
format name ``entity_pages``; see analytics/semistructured.py
``q_python_datasource_gate`` for the oracle-gated face and
tests/test_pyds.py::TestPythonDataSource for the pushdown pins.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
    EqualTo,
    Filter,
    GreaterThan,
    In,
    InputPartition,
    LessThan,
)

_ARROW_TO_DDL = {
    "int64": "bigint",
    "int32": "int",
    "double": "double",
    "float": "float",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
}


def _files(path: str) -> list[str]:
    """A parquet 'entity' is a single file OR a Spark-written directory of
    part files; either way, a deterministic file list."""
    import glob
    import os

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise ValueError(f"entity_pages: no parquet files under {path}")
        return parts
    return [path]


def _open_pf(path: str):
    """pq.ParquetFile with a loud, filename-carrying failure: a truncated
    or garbage landing file must surface as "THIS file, THIS reason" at
    PLANNING time, never as an executor stack trace mid-scan
    (sources/integrity.py holds the quarantine workflow)."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path)
    except Exception as e:  # noqa: BLE001 -- re-raised with the filename
        raise ValueError(
            f"corrupt parquet file {path}: {type(e).__name__}: {e} -- "
            f"pgsf_spark.sources.integrity.quarantine_corrupt() moves it "
            f"aside with a ledger"
        ) from e


def _ddl_of(path: str, fields: list[str] | None) -> str:
    """Spark DDL for the requested columns, from the parquet arrow schema."""

    arrow = _open_pf(_files(path)[0]).schema_arrow
    names = fields if fields else arrow.names
    parts = []
    for n in names:
        if n not in arrow.names:
            raise ValueError(f"entity_pages: no column {n!r} in {path}")
        t = str(arrow.field(n).type)
        if t not in _ARROW_TO_DDL:
            raise ValueError(
                f"entity_pages: column {n!r} has unsupported type {t}; "
                f"supported: {sorted(_ARROW_TO_DDL)} (project it away with "
                f"the 'fields' option)"
            )
        parts.append(f"{n} {_ARROW_TO_DDL[t]}")
    return ", ".join(parts)


class EntityPage(InputPartition):
    """One page == one parquet row group."""

    def __init__(self, path: str, row_group: int, columns: list[str], filters):
        self.path = path
        self.row_group = row_group
        self.columns = columns
        self.filters = filters  # [(name, op, value)] -- plain picklable


_OPS = {EqualTo: "=", GreaterThan: ">", LessThan: "<", In: "in"}


class EntityPagesReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options["path"]
        f = options.get("fields")
        self.columns = [c.strip() for c in f.split(",")] if f else None
        self.pushed: list[tuple[str, str, object]] = []
        self._float_cols: set[str] | None = None

    def _float_columns(self) -> set[str]:
        """Column names with float/double parquet type, schema read once."""
        if self._float_cols is None:
            arrow = _open_pf(_files(self.path)[0]).schema_arrow
            self._float_cols = {
                n for n in arrow.names if str(arrow.field(n).type) in ("float", "double")
            }
        return self._float_cols

    # --- filter pushdown ---------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: N802
        for flt in filters:
            op = _OPS.get(type(flt))
            if op is None or len(flt.attribute) != 1:
                yield flt  # not ours -- Spark post-filters it
                continue
            name = flt.attribute[0]
            if self.columns is not None and name not in self.columns:
                yield flt
                continue
            # a NULL in the comparison value breaks both the stats
            # compare (TypeError vs None) and SQL semantics (IN with
            # NULL must not match NULL rows) -- give those back to Spark
            values = flt.value if op == "in" else (flt.value,)
            if any(v is None for v in values):
                yield flt
                continue
            # float/double columns stay with Spark: Spark SQL orders NaN
            # greater than every value and NaN = NaN true, while the Arrow
            # re-filter AND parquet min/max stats use IEEE semantics
            # (writers exclude NaN from stats) -- consuming the filter
            # here would silently drop NaN rows vs a native Spark read
            if name in self._float_columns():
                yield flt
                continue
            self.pushed.append((name, op, flt.value))
            # NOT yielded: fully handled here (stats skip + batch filter)

    # --- planning: row-group pages, stats-skipped --------------------------
    def _rg_may_match(self, meta, rg: int) -> bool:
        """Row-group stats vs the pushed filters: False == provably empty."""
        row_group = meta.row_group(rg)
        stats = {}
        for i in range(row_group.num_columns):
            col = row_group.column(i)
            s = col.statistics
            if s is not None and s.has_min_max:
                stats[col.path_in_schema] = (s.min, s.max)
        for name, op, value in self.pushed:
            if name not in stats:
                continue  # no stats -> cannot skip
            lo, hi = stats[name]
            if op == "=" and not (lo <= value <= hi):
                return False
            if op == ">" and not (hi > value):
                return False
            if op == "<" and not (lo < value):
                return False
            if op == "in" and not any(lo <= v <= hi for v in value):
                return False
        return True

    def partitions(self) -> list[EntityPage]:

        pages = []
        for f in _files(self.path):
            meta = _open_pf(f).metadata
            pages.extend(
                EntityPage(f, rg, self.columns, self.pushed)
                for rg in range(meta.num_row_groups)
                if self._rg_may_match(meta, rg)
            )
        # zero surviving pages (all stats-skipped, or an empty entity):
        # one empty page keeps the scan schema-correct with zero rows
        return pages or [EntityPage(_files(self.path)[0], -1, self.columns, [])]

    # --- execution: one row group, pruned + filtered, Arrow out ------------
    def read(self, part: EntityPage) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        pf = _open_pf(part.path)
        if part.row_group < 0:  # the empty-entity sentinel page
            table = pf.schema_arrow.empty_table()
            if part.columns:
                table = table.select(part.columns)
            yield from table.to_batches()
            return
        table = pf.read_row_group(part.row_group, columns=part.columns)
        for name, op, value in part.filters:
            col = table[name]
            if op == "=":
                mask = pc.equal(col, value)
            elif op == ">":
                mask = pc.greater(col, value)
            elif op == "<":
                mask = pc.less(col, value)
            else:  # "in"
                mask = pc.is_in(col, value_set=pa.array(value))
            table = table.filter(mask)
        yield from table.to_batches()


class EntityPagesSource(DataSource):
    """format("entity_pages"): options path, fields (csv, optional)."""

    @classmethod
    def name(cls) -> str:
        return "entity_pages"

    def schema(self) -> str:
        f = self.options.get("fields")
        fields = [c.strip() for c in f.split(",")] if f else None
        return _ddl_of(self.options["path"], fields)

    def reader(self, schema) -> EntityPagesReader:
        return EntityPagesReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the entity_pages format."""
    spark.dataSource.register(EntityPagesSource)


# --- streaming: watermark-polling CDC source ---------------------------------


def _ts_us(value) -> int:
    """Epoch microseconds from a parquet stat value (datetime or int).

    INTEGER arithmetic only: float .timestamp() * 1e6 rounds down by 1 us
    for a measurable fraction of real timestamps, which would understate
    the watermark and permanently drop the rows carrying a row group's
    max timestamp (pinned by test_ts_us_is_exact_to_the_microsecond)."""
    import datetime

    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (value - epoch) // datetime.timedelta(microseconds=1)
    return int(value)


class CdcSlice(InputPartition):
    """One row group restricted to the (start, end] watermark window."""

    def __init__(self, path, row_group, columns, ts_field, start_us, end_us):
        self.path = path
        self.row_group = row_group
        self.columns = columns
        self.ts_field = ts_field
        self.start_us = start_us
        self.end_us = end_us


class EntityCdcStreamReader(DataSourceStreamReader):
    """Incremental watermark polling as a Spark 4 Python STREAMING source.

    The reference's steady-state sync re-reads rows with
    ``SystemModstamp > last_watermark`` each cycle (reference
    query_poll_table.py, SURVEY P4/C1: strict ``>``, watermark persisted
    between runs); here the watermark IS the streaming offset
    ({"watermark_us": N}), Spark persists it in the query checkpoint
    (exactly-once across restarts, C3), and each micro-batch reads only
    the row groups whose stats overlap the (start, end] window --
    partition-parallel, stats-pruned, Arrow-vectorized like the batch
    source above. The ts column is emitted as BIGINT epoch-microseconds
    (``<ts_field>_us``) alongside the pruned scalar fields."""

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.ts_field = options.get("ts_field", "ts")
        f = options.get("fields")
        self.columns = [c.strip() for c in f.split(",")] if f else None
        self._ts_checked = False
        # stats-less fallback memo: {(path, size, mtime_ns, rg): max_ts_us}.
        # latestOffset runs on EVERY trigger; without this, a zone whose
        # writer omits ts statistics would pay a full ts-column read of
        # each stats-less row group per trigger -- O(data) repeated driver
        # I/O. Part files are immutable once landed (the landing contract),
        # and the (size, mtime_ns) key invalidates the memo anyway if one
        # is ever rewritten in place.
        self._statless_max_memo: dict = {}

    def _check_ts_field(self) -> None:
        """A mistyped ts_field would find no stats, return the initial
        offset forever, and 'succeed' having synced nothing -- fail
        loudly instead (once, driver-side)."""
        if self._ts_checked:
            return

        arrow = _open_pf(_files(self.path)[0]).schema_arrow
        if self.ts_field not in arrow.names:
            raise ValueError(
                f"entity_cdc: ts_field {self.ts_field!r} not in "
                f"{sorted(arrow.names)} ({self.path})"
            )
        self._ts_checked = True

    # offsets are JSON dicts; -2^62 predates any real timestamp
    def initialOffset(self) -> dict:  # noqa: N802
        return {"watermark_us": -(2**62)}

    def latestOffset(self) -> dict:  # noqa: N802
        import os

        import pyarrow.compute as pc

        self._check_ts_field()
        hi = -(2**62)
        files = _files(self.path)
        # evict memo entries for files that left the zone (retention /
        # compaction): over a weeks-long stream every landed generation
        # would otherwise pin its entries in driver memory forever
        live = set(files)
        self._statless_max_memo = {
            k: v for k, v in self._statless_max_memo.items() if k[0] in live
        }
        for f in files:
            pf = _open_pf(f)
            meta = pf.metadata
            for rg in range(meta.num_row_groups):
                row_group = meta.row_group(rg)
                if row_group.num_rows == 0:
                    continue
                got_stats = False
                for i in range(row_group.num_columns):
                    col = row_group.column(i)
                    if col.path_in_schema != self.ts_field:
                        continue
                    s = col.statistics
                    if s is not None and s.has_min_max:
                        hi = max(hi, _ts_us(s.max))
                        got_stats = True
                if not got_stats:
                    # a writer that omits ts stats would otherwise leave
                    # the offset frozen at initialOffset forever -- the
                    # silent-empty failure _check_ts_field guards against.
                    # Fall back to reading this group's ts column (only
                    # stats-less groups pay the read, and only ONCE per
                    # immutable part file: the (size, mtime) memo below
                    # caps the per-trigger cost at O(new files), not
                    # O(data). partitions() stays safe on its own: no
                    # stats -> the group is INCLUDED and the read-side
                    # window re-filter applies).
                    st = os.stat(f)
                    key = (f, st.st_size, st.st_mtime_ns, rg)
                    if key not in self._statless_max_memo:
                        ts_col = pf.read_row_group(rg, columns=[self.ts_field])[
                            self.ts_field
                        ]
                        mx = pc.max(ts_col).as_py()
                        self._statless_max_memo[key] = (
                            None if mx is None else _ts_us(mx)
                        )
                    memo = self._statless_max_memo[key]
                    if memo is not None:
                        hi = max(hi, memo)
        return {"watermark_us": hi}

    def partitions(self, start: dict, end: dict) -> list:

        lo, hi = start["watermark_us"], end["watermark_us"]
        out = []
        for f in _files(self.path):
            meta = _open_pf(f).metadata
            for rg in range(meta.num_row_groups):
                row_group = meta.row_group(rg)
                keep = True
                for i in range(row_group.num_columns):
                    col = row_group.column(i)
                    if col.path_in_schema != self.ts_field:
                        continue
                    s = col.statistics
                    if s is not None and s.has_min_max:
                        # strict >: a group wholly <= lo, or wholly > hi, is out
                        keep = _ts_us(s.max) > lo and _ts_us(s.min) <= hi
                if keep:
                    out.append(
                        CdcSlice(f, rg, self.columns, self.ts_field, lo, hi)
                    )
        # Spark requires >= 1 partition per batch; an empty slice of the
        # first file keeps the no-new-data batch schema-correct
        return out or [
            CdcSlice(_files(self.path)[0], -1, self.columns, self.ts_field, 0, 0)
        ]

    def read(self, part: CdcSlice):
        import pyarrow as pa
        import pyarrow.compute as pc

        pf = _open_pf(part.path)
        cols = list(part.columns) if part.columns else None
        if cols is not None and part.ts_field not in cols:
            cols.append(part.ts_field)
        if part.row_group < 0:
            table = pf.schema_arrow.empty_table()
        else:
            table = pf.read_row_group(part.row_group, columns=cols)
        ts = table[part.ts_field]
        if pa.types.is_timestamp(ts.type):
            ts_us = pc.cast(pc.cast(ts, pa.timestamp("us", tz=ts.type.tz)), pa.int64())
        else:
            ts_us = pc.cast(ts, pa.int64())
        if part.row_group >= 0:
            mask = pc.and_(
                pc.greater(ts_us, part.start_us),
                pc.less_equal(ts_us, part.end_us),
            )
        else:
            mask = pc.equal(ts_us, pa.scalar(1, pa.int64()))  # all-false
        keep = [n for n in table.column_names if n != part.ts_field]
        out = (
            table.select(keep)
            .append_column(f"{part.ts_field}_us", ts_us)
            .filter(mask)
        )
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # the watermark lives in the query checkpoint

    def stop(self) -> None:
        pass


class EntityCdcSource(DataSource):
    """format("entity_cdc"): streaming watermark-polling reads.

    options: path, ts_field (default "ts"), fields (csv, optional --
    scalar columns only; the ts column arrives as <ts_field>_us bigint).
    """

    @classmethod
    def name(cls) -> str:
        return "entity_cdc"

    def schema(self) -> str:
        f = self.options.get("fields")
        ts_field = self.options.get("ts_field", "ts")
        fields = [c.strip() for c in f.split(",")] if f else None
        if fields is None:

            arrow = _open_pf(_files(self.options["path"])[0]).schema_arrow
            fields = [n for n in arrow.names if n != ts_field]
        base = _ddl_of(self.options["path"], [c for c in fields if c != ts_field])
        return f"{base}, {ts_field}_us bigint"

    def streamReader(self, schema) -> EntityCdcStreamReader:  # noqa: N802
        return EntityCdcStreamReader(self.options)


def register_cdc(spark) -> None:
    """Idempotent registration of the entity_cdc streaming format."""
    spark.dataSource.register(EntityCdcSource)


# --- writer: chunked reverse-ETL sink ----------------------------------------


class ChunkCommit(WriterCommitMessage):
    """Picklable commit message: the chunk files one task produced."""

    def __init__(self, files, rows):
        self.files = files  # [(path, n_rows)]
        self.rows = rows


class EntityChunkWriter(DataSourceWriter):
    """The reference's chunked bulk upload as a Python DataSource SINK.

    Reference upload_table.py splits the outgoing record stream into
    bulk-API chunks capped at 10k records / 10 MB and lands a per-chunk
    result ledger (SURVEY K4); here each Spark task streams its
    partition into parquet chunk files capped at ``max_records`` rows
    (executor-side, bounded memory), returns the file list as its
    commit message, and the DRIVER writes the `_MANIFEST.json` ledger
    only in ``commit()`` -- so a failed job leaves data files at worst,
    never a manifest: readers keyed on the manifest see exactly-once
    output (the reference's job-artifact contract, K5/C3).

    Concurrency contract: ONE append job per path at a time. ``commit()``
    merges the new chunk list into the existing manifest with a
    read-modify-write (atomic only against readers, via os.replace);
    two jobs committing to the same path concurrently could each read
    the pre-existing manifest and one job's chunks would vanish from the
    final ledger. The reference's upload loop has the same shape (one
    sync job per table at a time, runner-guarded -- sync/state.py's
    guarded claim is the coordination layer here too); coordinate
    concurrent appends there, not in the sink."""

    # Spark type -> arrow factory name; the EXPLICIT arrow schema (built
    # from the writer's Spark schema, not inferred from values) keeps an
    # all-NULL chunk column typed instead of arrow `null` -- inferred
    # typing would give chunk files conflicting parquet schemas
    _SPARK_TO_ARROW = {
        "long": "int64",
        "integer": "int32",
        "double": "float64",
        "float": "float32",
        "boolean": "bool_",
        "string": "string",
    }

    def __init__(self, options, schema) -> None:
        self.dir = options["path"]
        self.cap = int(options.get("max_records", "10000"))
        self.fail_tag = options.get("fail_if_over")  # test hook: poison pill
        import pyarrow as pa

        fields = []
        for f in schema.fields:
            name = f.dataType.typeName()
            if name not in self._SPARK_TO_ARROW:
                raise ValueError(
                    f"entity_chunks: column {f.name!r} has unsupported type "
                    f"{name}; supported: {sorted(self._SPARK_TO_ARROW)}"
                )
            fields.append((f.name, getattr(pa, self._SPARK_TO_ARROW[name])()))
        self.arrow_schema = pa.schema(fields)

    def write(self, iterator) -> ChunkCommit:
        import os
        import uuid

        import pyarrow as pa

        os.makedirs(self.dir, exist_ok=True)
        files: list[tuple[str, int]] = []
        total = 0
        buf: list = []

        def flush() -> None:
            nonlocal buf
            if not buf:
                return
            import pyarrow.parquet as pq

            cols = list(zip(*buf))
            t = pa.table(
                {
                    field.name: pa.array(list(c), field.type)
                    for field, c in zip(self.arrow_schema, cols)
                },
                schema=self.arrow_schema,
            )
            f = os.path.join(self.dir, f"chunk-{uuid.uuid4().hex}.parquet")
            pq.write_table(t, f)
            files.append((f, len(buf)))
            buf = []

        for row in iterator:
            if self.fail_tag is not None and row[0] >= int(self.fail_tag):
                raise RuntimeError("poisoned row (test hook fail_if_over)")
            buf.append(tuple(row))
            total += 1
            if len(buf) >= self.cap:
                flush()
        flush()
        return ChunkCommit(files, total)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = [
            {"file": os.path.basename(f), "rows": n}
            for m in messages
            for f, n in m.files
        ]
        # append semantics: later jobs EXTEND the committed dataset (the
        # reference's upload ledger accumulates jobs); a manifest that
        # listed only the latest job would make earlier committed chunks
        # invisible to manifest-keyed readers -- silent data loss
        final = os.path.join(self.dir, "_MANIFEST.json")
        if os.path.exists(final):
            with open(final) as fh:
                manifest.extend(json.load(fh))
        tmp = os.path.join(self.dir, "_MANIFEST.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(sorted(manifest, key=lambda e: e["file"]), fh)
        os.replace(tmp, final)

    def abort(self, messages) -> None:
        # chunk files without a manifest are invisible to readers; leave
        # them for diagnosis, exactly like the reference's failed jobs
        pass


class EntityChunkStreamWriter(EntityChunkWriter, DataSourceStreamWriter):
    """Streaming leg of the chunked sink (``DataSourceStreamWriter``).

    The reference's reverse-ETL upload loop runs per sync cycle -- each
    cycle's records chunked and uploaded, each cycle leaving its own job
    ledger (reference upload_table.py + the scheduler loop, SURVEY
    K4/C2). Here each MICRO-BATCH is one cycle: executors stream the
    batch's partitions into capped parquet chunks (the inherited
    ``write``), and the driver's ``commit(messages, batchId)`` writes an
    EPOCH manifest ``_MANIFEST-<batchId>.json`` atomically.

    Exactly-once: Spark replays a failed epoch under the SAME batchId;
    the replayed commit atomically REPLACES that epoch's manifest, so
    chunks from the failed attempt are orphaned on disk but invisible to
    manifest-keyed readers (``committed_chunks``) -- never double-counted.
    ``abort`` writes no manifest at all, the batch-writer contract
    (K5/C3) per epoch."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        import json
        import os

        manifest = [
            {"file": os.path.basename(f), "rows": n}
            for m in messages
            if m is not None
            for f, n in m.files
        ]
        final = os.path.join(self.dir, f"_MANIFEST-{batchId:09d}.json")
        tmp = final + ".tmp"
        os.makedirs(self.dir, exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump(sorted(manifest, key=lambda e: e["file"]), fh)
        os.replace(tmp, final)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        # no manifest for this epoch: its chunks stay invisible; a replay
        # of the same batchId commits fresh chunks under a fresh manifest
        pass


def committed_chunks(path: str) -> list[dict]:
    """Union of all committed manifests under ``path``: the batch-job
    ledger (``_MANIFEST.json``) plus every epoch ledger
    (``_MANIFEST-<batchId>.json``), in (manifest, file) order. This is
    the ONLY sanctioned way to enumerate the sink's committed output --
    chunk files not listed here belong to failed/aborted attempts."""
    import glob
    import json
    import os

    out: list[dict] = []
    batch = os.path.join(path, "_MANIFEST.json")
    for mf in ([batch] if os.path.exists(batch) else []) + sorted(
        glob.glob(os.path.join(path, "_MANIFEST-*.json"))
    ):
        with open(mf) as fh:
            out.extend(json.load(fh))
    return out


class EntityChunkSink(DataSource):
    """format("entity_chunks") writer: options path, max_records.

    Batch (``writer``) and streaming (``streamWriter``) legs share the
    executor-side chunking; they differ only in the commit ledger (one
    accumulating ``_MANIFEST.json`` vs per-epoch manifests)."""

    @classmethod
    def name(cls) -> str:
        return "entity_chunks"

    def writer(self, schema, overwrite):
        if overwrite:
            # append accumulates jobs into one manifest-keyed dataset;
            # true overwrite (clear + replace) is not implemented, and
            # pretending otherwise would silently keep the old rows
            raise ValueError(
                "entity_chunks supports mode('append') only -- the manifest "
                "accumulates committed jobs; clear the directory to reset"
            )
        return EntityChunkWriter(self.options, schema)

    def streamWriter(self, schema, overwrite):  # noqa: N802
        if overwrite:
            # complete/truncate output modes would need each epoch to
            # REPLACE the full committed dataset (clear all earlier epoch
            # manifests); accepting the flag and only appending would make
            # committed_chunks() multiply-count every row -- refuse loudly
            raise ValueError(
                "entity_chunks streaming supports append output mode only -- "
                "each epoch commits its own manifest; complete/truncate "
                "modes are not implemented"
            )
        return EntityChunkStreamWriter(self.options, schema)


def register_sink(spark) -> None:
    """Idempotent registration of the entity_chunks sink format."""
    spark.dataSource.register(EntityChunkSink)
