"""Manifest commit protocol for the CoW/MoR table layer
(streaming/partitioned_upsert.py).

The partitioned-state table commits by publishing a JSON manifest;
everything else (bucket files, delta files, staging) is invisible until
the manifest names it. The table has ONE writer — a checkpointed stream
or a batch job — so the commit needs exactly two properties, which the
filesystem's atomic rename provides (the mechanism Spark's own
streaming metadata log commits with):

- atomic publish: the manifest is written to a hidden tmp file and
  renamed into place, so readers never observe a torn payload;
- a successor check: a commit carries the writer's basis listing and is
  rejected (ConcurrentCommitError, nothing published) when the listing
  changed since, which turns a violated single-writer contract into a
  loud error instead of a silent lost update.

The check and the rename are NOT one atomic operation, so this detects a
second writer rather than excluding it. On S3A the rename is copy+delete
— strictly weaker; keep one writer per table there as everywhere.

`ManifestLogStore` is the interface and `HadoopRenameLogStore` the store
every table uses; the contract is pinned in tests/test_logstore.py.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import SparkSession

from ..sources.maintenance import _fs_and_path

_LOG = logging.getLogger(__name__)


class ConcurrentCommitError(RuntimeError):
    """A foreign commit landed on the writer's basis between snapshot
    read and commit — the single-writer contract was violated."""


class ManifestLogStore:
    """Commit-protocol interface for a manifest directory.

    Contract for `commit(spark, manifest_dir, name, payload, expected)`:
      * if `expected` is not None and the directory's committed-name
        listing differs from it, raise ConcurrentCommitError and publish
        NOTHING;
      * otherwise publish `payload` under `name` (replacing an existing
        `name` — that is the replay-of-a-crashed-batch path, and the
        listing check already proved the replacer saw it in its basis);
      * readers must never observe a torn payload.
    HadoopRenameLogStore is the implementation; tests subclass it to
    inject faults (partitioned_upsert.set_log_store).
    """

    def list_commits(self, spark: SparkSession, manifest_dir: str) -> list[str]:
        """Sorted committed manifest names (no extension, no tmp files)."""
        fs, path, _ = _fs_and_path(spark, manifest_dir)
        if not fs.exists(path):
            return []
        out = []
        for s in fs.listStatus(path):
            name = str(s.getPath().getName())
            if s.isFile() and name.startswith("v") and name.endswith(".json"):
                out.append(name[: -len(".json")])
        return sorted(out)

    def read_commit(self, spark: SparkSession, manifest_dir: str, name: str) -> dict:
        fs, _, jvm = _fs_and_path(spark, manifest_dir)
        p = jvm.org.apache.hadoop.fs.Path(f"{manifest_dir}/{name}.json")
        stream = fs.open(p)
        try:
            raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        return json.loads(raw.decode("utf-8"))

    def commit(
        self,
        spark: SparkSession,
        manifest_dir: str,
        name: str,
        payload: dict,
        expected: tuple | None,
    ) -> None:
        raise NotImplementedError

    # the un-checked publish (expected=None) is shared plumbing: tmp
    # write + one ATOMIC overwrite-rename, so readers never see a torn
    # manifest AND never see a previously committed same-name manifest
    # transiently absent (ADVICE r7: the old delete-then-rename replace
    # path let a concurrent reader observe the table rolled back one
    # batch between the delete and the rename)
    def _publish(self, spark: SparkSession, manifest_dir: str, name: str, payload: dict) -> None:
        fs, _, jvm = _fs_and_path(spark, manifest_dir)
        hpath = jvm.org.apache.hadoop.fs.Path
        fs.mkdirs(hpath(manifest_dir))
        tmp = hpath(f"{manifest_dir}/.{name}.json.tmp")
        final = hpath(f"{manifest_dir}/{name}.json")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(payload, sort_keys=True).encode("utf-8")))
        finally:
            out.close()
        _rename_overwrite(spark, jvm, fs, tmp, final)


def _rename_overwrite(spark: SparkSession, jvm, fs, src, dst) -> None:
    """Atomic rename that REPLACES dst if present, via FileContext's
    Options.Rename.OVERWRITE (one metadata op on local FS/HDFS — no
    window in which dst is absent). Falls back, with a warning, to
    delete-then-rename on filesystems without an AbstractFileSystem
    binding — that path re-opens the transient-absence window the
    overwrite rename exists to close, so the warning names it."""
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri(), spark.sparkContext._jsc.hadoopConfiguration()
        )
        arr = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        arr[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(src, dst, arr)
        return
    except Exception as e:
        if "UnsupportedFileSystem" not in str(type(e)) + str(e):
            raise
        _LOG.warning(
            "no FileContext binding for %s: falling back to non-atomic "
            "delete-then-rename (a concurrent reader may transiently "
            "miss the replaced file)",
            dst,
        )
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(src, dst):
        raise IOError(f"manifest commit failed: {dst}")


class HadoopRenameLogStore(ManifestLogStore):
    """The store: optimistic check, then rename-publish. The two
    steps are NOT atomic together — a foreign commit can land in the
    gap, so this DETECTS single-writer violations rather than excluding
    them (fine on local FS/HDFS under the documented single-writer
    contract; see module docstring for the S3 story)."""

    def commit(self, spark, manifest_dir, name, payload, expected) -> None:
        if expected is not None:
            now = tuple(self.list_commits(spark, manifest_dir))
            if now != expected:
                raise ConcurrentCommitError(
                    f"manifest listing changed before commit of {name}: "
                    f"{sorted(set(now) ^ set(expected))} — concurrent writer "
                    "detected; the state table has a single-writer contract"
                )
        self._publish(spark, manifest_dir, name, payload)
