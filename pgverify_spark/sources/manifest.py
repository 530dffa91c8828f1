"""Manifest-pinned atomic state commits for the maintenance family.

The engine's write-side operators (``maintain.targeted_delete``,
``rollup.update_rollup_snapshot``, ``fingerprint.update_fingerprint_snapshot``)
used delete-then-append / rename swaps whose docstrings each conceded a
racing reader could observe a gap.  This module closes that gap with a
shared commit protocol instead of deferring to "deploy Delta":

- State under ``base`` is a set of immutable ENTRIES — base-relative
  paths to parquet files, flat directories, or ``day=<d>``-style
  partition directories (usually inside ``gen-<uuid>`` generation
  directories, so a writer never mutates a path a reader may hold).
- ``base/_manifest-<N>`` (N monotonically increasing, zero-padded) is a
  one-line JSON file listing the entries that ARE the current state.
  Writers stage a full new generation first, then publish by CREATING
  the next manifest with ``create(overwrite=false)``.  On HDFS and
  local filesystems that create is atomic-exclusive, so even a zombie
  writer racing the same N loses cleanly; on S3A-style object stores
  create is NOT exclusive (no O_EXCL) — there the protocol's safety
  rests entirely on the single-writer discipline below, and a deployment
  with genuinely concurrent writers needs a store with conditional
  puts or an external lock.  Readers take the highest N whose body is
  complete (see :func:`_latest`), so there is never an instant with no
  committed manifest and never a reader that sees half a commit.
- GC runs inside :func:`commit` with a ONE-COMMIT GRACE WINDOW: only
  entries (and manifest files) last referenced two or more commits ago
  are deleted, so a reader that resolved manifest N keeps every file it
  may touch until commit N+2 — the same reader-vs-vacuum contract as
  snapshot-isolated table formats.

Single-writer discipline is assumed per state directory (the operators
here are maintenance jobs, not concurrent OLTP); readers are unlimited.

Legacy layouts (no manifest file) resolve to ``base`` itself, so state
written before this protocol stays readable and is absorbed by a
bootstrap commit on the first manifest-aware write.
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_PREFIX = "_manifest-"


def _norm(base: str) -> str:
    """Canonical base spelling: no trailing slash (r11 ADVICE — a
    trailing-slash caller used to produce ``//file`` absolute paths in
    :func:`data_files`, whose base-relative slice in
    ``maintain._commit_rewrite`` then yielded ``/file`` entries that no
    longer string-matched earlier commits' ``file`` entries, so a later
    commit's GC keep-set missed them and deleted still-referenced
    files).  Every public function normalizes on entry so entry strings
    are canonical regardless of caller spelling."""
    stripped = base.rstrip("/")
    return stripped if stripped else base


def _jfs(spark: SparkSession, base: str):
    from pgverify_spark.sources.maintain import _hadoop

    jvm, fs = _hadoop(spark, base)
    return jvm, fs, jvm.org.apache.hadoop.fs.Path


def _list_names(fs, P, base: str) -> list[str]:
    p = P(base)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def manifest_numbers(spark: SparkSession, base: str) -> list[int]:
    """All committed manifest numbers under ``base``, ascending."""
    base = _norm(base)
    _, fs, P = _jfs(spark, base)
    out = []
    for name in _list_names(fs, P, base):
        if name.startswith(MANIFEST_PREFIX):
            try:
                out.append(int(name[len(MANIFEST_PREFIX):]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(spark: SparkSession, base: str, n: int) -> dict:
    jvm, fs, P = _jfs(spark, base)
    path = P(f"{base}/{MANIFEST_PREFIX}{n:020d}")
    stream = fs.open(path)
    try:
        raw = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()
    return json.loads(raw)


def _latest(spark: SparkSession, base: str) -> dict | None:
    """The committed state's manifest, or None for a legacy layout.
    :func:`commit` creates ``_manifest-N`` before writing its body, so a
    reader can list N while it is empty or a JSON prefix, which never
    parses; N is not committed yet, and N-1 survives until commit N+1."""
    nums = manifest_numbers(spark, base)
    if not nums:
        return None
    try:
        return _read_manifest(spark, base, nums[-1])
    except ValueError:
        if len(nums) == 1:
            raise
    return _read_manifest(spark, base, nums[-2])


def current_entries(spark: SparkSession, base: str) -> list[str] | None:
    """The committed state's base-relative entries, or None when ``base``
    has no manifest (legacy layout — read ``base`` directly)."""
    m = _latest(spark, _norm(base))
    return None if m is None else list(m["entries"])


def new_generation() -> str:
    """A fresh generation directory name — writers stage under
    ``base/<gen>`` so no committed path is ever mutated in place."""
    return f"gen-{uuid.uuid4().hex[:12]}"


def read_back_schema(df: DataFrame, part_cols: tuple[str, ...] = ()) -> str | None:
    """The schema :func:`read_state` would INFER for state written as
    ``df.write.partitionBy(*part_cols).parquet(...)`` — data columns in
    written order (partition columns removed from their position), then
    the partition columns appended as the nullable INT partition
    discovery yields for integral ``key=value`` directory names.

    Writers pass the result to :func:`commit` so every later
    :func:`read_state` plans WITHOUT the parquet footer-inference job
    (~100–180 ms + 1 Spark job per committed relation, measured r12) —
    the schema-in-metadata design of every manifest-based table format.
    Returns None (record nothing, readers infer as before) when a
    partition column is not integral, where directory-name inference
    could diverge from this reconstruction."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
    )

    fields = []
    by_name = {f.name: f for f in df.schema.fields}
    for f in df.schema.fields:
        if f.name not in part_cols:
            fields.append(StructField(f.name, f.dataType, True))
    for c in part_cols:
        f = by_name.get(c)
        if f is None or not isinstance(
            f.dataType, (ByteType, ShortType, IntegerType, LongType)
        ):
            return None
        fields.append(StructField(c, IntegerType(), True))
    return StructType(fields).json()


def read_state(
    spark: SparkSession, base: str, manifest_no: int | None = None
) -> DataFrame:
    """Manifest-aware read of the committed state.

    Entries whose last path component is ``key=value`` (partition
    directories) are grouped by their parent and read with that parent
    as ``basePath`` so the partition column survives the explicit-leaf
    read; other entries (files, flat generation dirs) read directly.
    Falls back to a plain read of ``base`` for legacy layouts.

    ``manifest_no`` reads a HISTORICAL commit instead of the latest —
    within the GC grace window only the previous commit is guaranteed
    readable (its files survive until the commit after next); that one
    generation of time travel is exactly what
    :func:`~pgverify_spark.sources.maintain.generation_diff` needs to
    audit the last maintenance write.

    A legitimately committed EMPTY state (a maintenance pass dropped
    every remaining day, or a targeted delete emptied the table) reads
    back as an EMPTY DataFrame with the schema the commit recorded
    (r11 ADVICE — this used to raise and crash the writer's own
    trailing read-back); only a schema-less empty commit (possible for
    pre-r12 manifests) still raises.
    """
    base = _norm(base)
    if manifest_no is None:
        m = _latest(spark, base)
        if m is None:
            return spark.read.parquet(base)
    else:
        m = _read_manifest(spark, base, manifest_no)
    entries = list(m["entries"])
    # schema recorded at commit (:func:`read_back_schema`): plan every
    # relation from metadata — no footer-inference jobs
    pinned = StructType.fromJson(json.loads(m["schema"])) if m.get("schema") else None

    def reader():
        return spark.read.schema(pinned) if pinned is not None else spark.read

    part_groups: dict[str, list[str]] = {}
    flat: list[str] = []
    for e in entries:
        head, tail = posixpath.split(e.rstrip("/"))
        if "=" in tail:
            part_groups.setdefault(head, []).append(f"{base}/{e}")
        else:
            flat.append(f"{base}/{e}")
    parts: list[DataFrame] = []
    if flat:
        parts.append(reader().parquet(*flat))
    for root, paths in part_groups.items():
        base_path = f"{base}/{root}" if root else base
        parts.append(
            reader().option("basePath", base_path).parquet(*paths)
        )
    if not parts:  # a committed EMPTY state (everything deleted)
        if pinned is not None:
            return spark.createDataFrame([], pinned)
        raise ValueError(
            f"manifest at {base!r} commits an empty state with no "
            "recorded schema (pre-r12 manifest)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def data_files(spark: SparkSession, base: str) -> list[tuple[str, int]] | None:
    """(absolute file path, size) for every data file the committed
    state references, or None for legacy layouts (callers list ``base``
    directly).  Directory entries expand recursively."""
    base = _norm(base)
    entries = current_entries(spark, base)
    if entries is None:
        return None
    _, fs, P = _jfs(spark, base)
    out: list[tuple[str, int]] = []

    def add(path: str) -> None:
        st = fs.getFileStatus(P(path))
        if st.isDirectory():
            for child in fs.listStatus(P(path)):
                name = child.getPath().getName()
                if child.isDirectory():
                    add(f"{path}/{name}")
                elif not name.startswith(("_", ".")):
                    out.append((f"{path}/{name}", child.getLen()))
        else:
            out.append((path, st.getLen()))

    for e in entries:
        add(f"{base}/{e}")
    return out


def commit(
    spark: SparkSession,
    base: str,
    entries: list[str],
    schema_json: str | None = None,
) -> int:
    """Publish ``entries`` as the new committed state and GC.

    Creates ``_manifest-<N+1>`` (the atomic publish), then deletes
    manifests and entries whose last reference is manifest N-1 or older
    — the one-commit grace window documented in the module docstring.
    Returns the new manifest number.

    ``schema_json`` (from :func:`read_back_schema`) records the state's
    read-back schema in the manifest so :func:`read_state` plans from
    metadata instead of running footer-inference jobs.  The single
    writer guarantees it describes EVERY entry (kept entries are prior
    generations of the same state); omit it and readers infer as
    before.

    An EMPTY ``entries`` list additionally records the outgoing state's
    schema (one footer read of the previous commit, or the previous
    commit's own recorded schema when it too was empty) so
    :func:`read_state` can hand back an empty DataFrame instead of
    raising (r11 ADVICE).
    """
    base = _norm(base)
    jvm, fs, P = _jfs(spark, base)
    nums = manifest_numbers(spark, base)
    n = (nums[-1] if nums else 0) + 1
    payload: dict = {"entries": sorted(entries)}
    if entries and schema_json:
        payload["schema"] = schema_json
    if not entries and nums:
        prev = _read_manifest(spark, base, nums[-1])
        if prev.get("entries"):
            try:
                payload["schema"] = read_state(spark, base, nums[-1]).schema.json()
            except Exception:  # noqa: BLE001 — schema capture is best-effort
                pass
        elif prev.get("schema"):
            payload["schema"] = prev["schema"]
    body = json.dumps(payload).encode("utf-8")
    stream = fs.create(P(f"{base}/{MANIFEST_PREFIX}{n:020d}"), False)
    try:
        stream.write(body)
    finally:
        stream.close()
    # GC: keep everything referenced by the last two manifests (n and
    # its predecessor); delete entries whose last reference is older,
    # and the older manifest files themselves.
    keep: set[str] = set(entries)
    if nums:
        keep |= set(_read_manifest(spark, base, nums[-1])["entries"])
    for old in nums[:-1]:
        for e in _read_manifest(spark, base, old)["entries"]:
            if e not in keep:
                fs.delete(P(f"{base}/{e}"), True)
        fs.delete(P(f"{base}/{MANIFEST_PREFIX}{old:020d}"), False)
    return n


_GEN_RE = re.compile(r"^gen-[0-9a-f]{12}$")


def is_generation_name(name: str) -> bool:
    return _GEN_RE.match(name) is not None


def bootstrap_entries(spark: SparkSession, base: str) -> list[str]:
    """Base-relative entries describing a LEGACY layout (no manifest):
    top-level ``key=value`` partition directories and data files.  The
    first manifest-aware write commits these alongside its new
    generation so the pre-manifest state joins the grace-window
    lifecycle instead of lingering unreferenced.

    Generation directories are EXCLUDED: they are writer-owned, and an
    unreferenced one is by definition the debris of a write that
    crashed before its commit — sweeping it into the bootstrap would
    resurrect its staged rows as duplicates."""
    base = _norm(base)
    _, fs, P = _jfs(spark, base)
    out = []
    for name in _list_names(fs, P, base):
        if name.startswith(("_", ".")) or is_generation_name(name):
            continue
        out.append(name)
    return out
