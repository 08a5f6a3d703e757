"""Per-write Hadoop committer options for the engine's internal writes.

Every lakehouse/engine write targets a UUID-named, write-once directory
whose files are discovered by an explicit post-write listing (the
manifest records them) or read back wholesale — never by the
rename-based discovery protocol Spark's default FileOutputCommitter
v1 + ``_SUCCESS`` markers exist to serve. Those defaults cost two
renames per file plus a marker write per job; on the measured host
that is ~50% of a small commit's write-job wall time (0.63 s → 0.32 s
for a representative single-commit write, r16 probe). The options:

- ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` — skip
  the ``_SUCCESS`` marker (nothing in the engine or its readers
  consults it; spark.read ignores underscore-prefixed files).
- ``mapreduce.fileoutputcommitter.algorithm.version=2`` — task commit
  renames directly into the destination instead of a second job-commit
  rename pass. Safe here because every engine write goes to a fresh
  uuid directory with ``mode("error")`` (no concurrent writer can own
  the same destination), the caller raises on job failure, and a
  failed/abandoned attempt's directory is never referenced by a
  manifest (vacuum sweeps orphans age-guarded).

At 100 TB on an object store the same reasoning picks the
cloud-native committer (magic/S3A committer); v2 is the local-FS
analog. A deployment whose storage needs v1's atomic-job-commit
semantics changes ``LIGHT_COMMITTER`` here; there is no switch.

Options are applied per-write (``DataFrameWriter.option`` merges them
into the job's Hadoop conf via ``newHadoopConfWithOptions``), so user
sessions and external writers keep their own defaults.
"""

from __future__ import annotations

__all__ = ["LIGHT_COMMITTER", "apply_light_committer"]

LIGHT_COMMITTER = {
    "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def apply_light_committer(writer):
    """Apply the light-committer options to a DataFrameWriter."""
    return writer.options(**LIGHT_COMMITTER)
