"""Parquet landing-zone integrity: detect, name, and quarantine bad files.

A landing directory with one truncated or garbage part file fails a scan
MID-JOB with an executor stack trace (the reference's equivalent -- a
half-written CSV from a killed download -- aborts csv_to_postgres the
same opaque way). Robustness here means three explicit properties:

  1. DETECT cheaply: footer-only validation (magic bytes + metadata
     parse + schema access) reads a few KB per file, never the data
     pages, so checking a 10k-file landing zone is driver-cheap and
     O(files) -- usable as a pre-flight gate before every load.
  2. NAME the file: the report carries (file, reason) pairs; an operator
     acts on "part-00042 truncated at byte 1313" -- not on a lost
     executor.
  3. QUARANTINE explicitly: bad files are MOVED aside into a
     ``_quarantine/`` subdirectory with a JSON ledger, then the load
     proceeds on the good files. This is the loud, audited alternative
     to ``spark.sql.files.ignoreCorruptFiles`` -- which silently drops
     whole files' rows and is how replicas quietly diverge.

Spark-first note: validation runs driver-side by default because
parquet footers are tiny; for million-file zones use
``scan_parquet_dir_distributed`` -- the SAME ``check_file`` pure
function fanned out over executors with ``mapInPandas`` (file listing
stays driver-side, O(files) names; footer reads are the distributed
part). Both produce the identical IntegrityReport.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

QUARANTINE_DIR = "_quarantine"
QUARANTINE_LEDGER = "_quarantine/_LEDGER.json"

# Reason-string prefix for ENVIRONMENT failures (unreachable/unreadable
# file: FileNotFoundError, PermissionError, EIO...). These are NOT
# evidence of corruption -- on a cluster where an executor cannot see a
# driver-local path, every healthy file fails this way, and a quarantine
# acting on that signal would move the entire zone aside. check_file
# tags them; quarantine_corrupt refuses to act on them.
ENV_REASON_PREFIX = "environment:"


def is_env_reason(reason: str) -> bool:
    """True when a report reason records an I/O/access failure (the file
    could not be REACHED) rather than a footer-parse failure (the file
    was read and its bytes are bad)."""
    return reason.startswith(ENV_REASON_PREFIX)


@dataclass(frozen=True)
class IntegrityReport:
    good: tuple[str, ...]  # readable part files (absolute paths)
    bad: tuple[tuple[str, str], ...]  # (absolute path, reason)

    def __bool__(self) -> bool:
        """Truthy when the directory is CLEAN (all files readable)."""
        return not self.bad

    def describe(self) -> str:
        if not self.bad:
            return f"clean ({len(self.good)} files)"
        lines = ", ".join(f"{os.path.basename(f)}: {r}" for f, r in self.bad)
        return f"{len(self.bad)} corrupt of {len(self.good) + len(self.bad)}: {lines}"


def check_file(path: str) -> str | None:
    """Footer-only validation of one parquet file; returns the failure
    reason or None. Catches the three real-world corruption shapes:
    truncation (missing/partial footer), zero-byte placeholders from a
    killed writer, and non-parquet bytes landed under a .parquet name."""
    return read_footer(path)[1]


def read_footer(path: str):
    """``(FileMetaData, None)`` for a readable parquet file, or ``(None,
    reason)`` with ``check_file``'s failure reason: one footer parse and
    schema decode, so a caller that needs the footer anyway (the entity
    source's landing ledger) validates the file in the same read."""
    import pyarrow.parquet as pq

    try:
        size = os.path.getsize(path)
        if size == 0:
            return None, "zero-byte file"
        pf = pq.ParquetFile(path)
        md = pf.metadata  # forces the footer parse
        _ = pf.schema_arrow  # and the schema decode
        return md, None
    except OSError as e:
        # could not REACH the file (missing, permission, I/O error) --
        # an environment failure, tagged so quarantine never treats it
        # as corruption evidence. Discriminator: environment failures
        # carry an OS errno (FileNotFoundError=2, EACCES=13, EIO=5...);
        # pyarrow surfaces footer-parse failures as a BARE builtins
        # OSError with errno None ("Couldn't deserialize thrift", its
        # ArrowIOError is an alias of OSError, not a pyarrow-module
        # subclass -- verified on pyarrow 16), and those ARE corruption.
        if e.errno is not None or isinstance(
            e, (FileNotFoundError, PermissionError, IsADirectoryError)
        ):
            return None, f"{ENV_REASON_PREFIX}{type(e).__name__}: {e}"[:200]
        return None, f"{type(e).__name__}: {e}"[:200]
    except Exception as e:  # noqa: BLE001 -- the reason IS the product
        return None, f"{type(e).__name__}: {e}"[:200]


def _list_part_files(path: str) -> list[str]:
    """Recursive part-file listing with Spark's metadata-skip conventions
    (names starting with ``_`` or ``.``, including ``_quarantine/``) --
    the shared front half of both scanners and of the entity source's
    landing ledger. Sorted by path, the order ``mergeSchema`` reads."""
    if not os.path.isdir(path):
        return [path]
    return sorted(_walk_part_files(path))


def _walk_part_files(path: str):
    with os.scandir(path) as it:
        for e in it:
            if e.name.startswith(("_", ".")):
                continue
            if e.is_dir(follow_symlinks=False):  # like os.walk: links are not walked
                yield from _walk_part_files(e.path)
            elif e.name.endswith(".parquet"):
                yield e.path


def scan_parquet_dir(path: str) -> IntegrityReport:
    """Validate every part file of a parquet file-or-directory entity,
    RECURSIVELY -- a hive-partitioned landing zone keeps its part files
    in subdirectories, and a scan that only checked the top level would
    report 'clean (0 files)' while the load dies mid-job (the exact
    blindness this gate exists to prevent)."""
    files = _list_part_files(path)
    good, bad = [], []
    for f in files:
        reason = check_file(f)
        if reason is None:
            good.append(f)
        else:
            bad.append((f, reason))
    return IntegrityReport(good=tuple(good), bad=tuple(bad))


def _quarantine_name(qdir: str, relpath: str) -> str:
    """Collision-safe evidence name: the file's zone-relative path with
    separators flattened; an existing name (a re-landed corrupt file
    with the same name, or same basename from two partitions) gets a
    numeric suffix instead of silently REPLACING the earlier incident's
    evidence."""
    base = relpath.replace(os.sep, "__")
    candidate, k = base, 0
    while os.path.exists(os.path.join(qdir, candidate)):
        k += 1
        stem, dot, ext = base.partition(".")
        candidate = f"{stem}-{k}{dot}{ext}"
    return candidate


def quarantine_corrupt(path: str, report: IntegrityReport | None = None) -> IntegrityReport:
    """Move the report's bad files into ``<path>/_quarantine/`` and append
    them to the JSON ledger there. Each ledger entry records the stored
    evidence name (``file``), the original zone-relative path
    (``source``), and the parse ``reason``. Returns the re-scanned
    (now clean unless new corruption appeared) report. Idempotent:
    re-running with nothing bad is a no-op. Only meaningful for
    directory entities.

    Two safety contracts:
      * REFUSES environment-failure reasons (``environment:`` prefix --
        FileNotFoundError, PermissionError, ...): those say the file
        could not be reached, not that its bytes are bad. A scan run
        where storage was unreachable tags EVERY file that way, and a
        quarantine acting on it would move the whole zone aside. Raises
        before touching anything; fix the environment and re-scan.
      * The ledger entry is written-and-flushed BEFORE each move, so a
        crash mid-loop can never leave evidence files in _quarantine/
        without the audit record. (The reverse window -- a ledgered
        entry whose move didn't happen -- is self-healing: the re-scan
        still flags the file and a re-run ledgers it again and completes
        the move; a duplicate audit record, never a missing one.)
    """
    if not os.path.isdir(path):
        raise ValueError(f"quarantine requires a directory entity, got file {path}")
    report = report if report is not None else scan_parquet_dir(path)
    env_failures = [(f, r) for f, r in report.bad if is_env_reason(r)]
    if env_failures:
        names = ", ".join(f"{os.path.basename(f)}: {r}" for f, r in env_failures[:5])
        raise RuntimeError(
            f"refusing to quarantine: {len(env_failures)} file(s) failed with "
            f"ENVIRONMENT errors, not corruption ({names}). An unreachable "
            "zone looks exactly like this -- fix access and re-scan."
        )
    if report.bad:
        qdir = os.path.join(path, QUARANTINE_DIR)
        os.makedirs(qdir, exist_ok=True)
        ledger_path = os.path.join(path, QUARANTINE_LEDGER)
        _convert_legacy_ledger(ledger_path)
        # append-only JSONL: one fsynced line per file BEFORE its move --
        # the ledger-before-move ordering at O(bad) cost (a full-array
        # rewrite per file would be O(bad^2) bytes on a mass-corruption
        # zone); a crash can leave at most one torn trailing line for a
        # file that was NOT yet moved, which the reader skips
        with open(ledger_path, "a") as lg:
            for f, reason in report.bad:
                rel = os.path.relpath(f, path)
                stored = _quarantine_name(qdir, rel)
                lg.write(
                    json.dumps({"file": stored, "source": rel, "reason": reason})
                    + "\n"
                )
                lg.flush()
                os.fsync(lg.fileno())
                shutil.move(f, os.path.join(qdir, stored))
    return scan_parquet_dir(path)


def _convert_legacy_ledger(ledger_path: str) -> None:
    """One-time migration of a pre-JSONL array-format ledger so appends
    stay append-only; atomic, idempotent, no-op for JSONL or absent."""
    if not os.path.exists(ledger_path):
        return
    with open(ledger_path) as fh:
        head = fh.read(1)
    if head != "[":
        return
    with open(ledger_path) as fh:
        entries = json.load(fh)
    tmp = ledger_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in entries)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, ledger_path)


def read_quarantine_ledger(zone_path: str) -> list[dict]:
    """The quarantine audit trail of a landing zone, oldest first.

    Reads both formats (append-only JSONL, and the legacy JSON array a
    pre-migration zone may still hold). A torn trailing JSONL line --
    the only artifact a crash mid-append can leave, always for a file
    whose move had NOT happened yet -- is skipped."""
    ledger_path = os.path.join(zone_path, QUARANTINE_LEDGER)
    if not os.path.exists(ledger_path):
        return []
    with open(ledger_path) as fh:
        text = fh.read()
    if text.lstrip().startswith("["):
        return json.loads(text)
    out: list[dict] = []
    for line in text.splitlines():
        if not line.strip():
            continue
        try:
            out.append(json.loads(line))
        except json.JSONDecodeError:
            break  # torn trailing line from a crash mid-append
    return out


def _fanout_slices(n_files: int, default_parallelism: int) -> int:
    """Executor fan-out width for the distributed scanner: 2 slices per
    core (round-robin repartition keeps them within one file of even), but
    never more slices than files. Tested at the multi-thousand-file grain
    in tests/test_integrity.py."""
    return max(1, min(n_files, default_parallelism * 2))


def scan_parquet_dir_distributed(spark, path: str) -> IntegrityReport:
    """The million-file form of ``scan_parquet_dir``: the same pure
    ``check_file`` fanned out over executors with Arrow-batched
    ``mapInPandas``. Listing stays driver-side (O(files) NAMES, no I/O);
    the footer reads -- the part that touches storage -- run
    partition-parallel, so a zone the driver would take hours to check
    serially finishes in one short Spark job. Identical IntegrityReport,
    so quarantine_corrupt() accepts either scanner's output."""
    files = _list_part_files(path)
    if not files:
        return IntegrityReport(good=(), bad=())

    def _check(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "reason": [check_file(p) for p in pdf["path"]],
                }
            )

    n_slices = _fanout_slices(len(files), spark.sparkContext.defaultParallelism)
    rows = (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(n_slices)
        .mapInPandas(_check, "path string, reason string")
        .collect()
    )
    by_path = {r["path"]: r["reason"] for r in rows}
    good = tuple(f for f in files if by_path.get(f) is None)
    bad = tuple((f, by_path[f]) for f in files if by_path.get(f) is not None)
    return IntegrityReport(good=good, bad=bad)
