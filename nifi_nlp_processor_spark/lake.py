"""Lake-table abstraction: MERGE-INTO upsert target with exactly-once commits.

The north rule targets Iceberg ``MERGE INTO``; the Iceberg runtime jar is not
available in this sandbox, so the same semantics are implemented as a
parquet "mini-lake" behind one interface (SURVEY §7 M1 fallback):

* **Copy-on-write at bucket granularity** — rows are hash-bucketed on
  ``conv_id`` (the Iceberg analogue is a ``bucket(conv_id)`` hidden
  partition). A merge rewrites only the buckets the source batch touches;
  untouched buckets are inherited by pointer. This bounds write
  amplification exactly the way Iceberg's copy-on-write MERGE bounds it at
  file granularity, and keeps each conversation's turns co-located so the
  LWW merge shuffle partitions by the same key every epoch.
* **Merge-on-read mode** (``merge_into(mode="mor")``) — the Iceberg
  equality-delete analogue (the layout Flink CDC writes): an epoch's rows
  are LWW-deduped within the batch and appended as per-bucket *delta* file
  sets without ever reading the target, so bytes written per epoch is
  O(batch) instead of O(touched buckets). Nor is the batch probed: the
  touched buckets and their new LSN watermarks come from the written
  files' directories and parquet footers. Reads fold base+deltas through
  the same LWW expressions the CoW merge uses (``lww_payload_order`` — one
  definition, so staged folds provably agree with single-pass merges). A
  delta write given a chain bound (``max_deltas=k``, the runner's
  ``auto_compact_deltas``) folds every bucket whose chain it would bring
  to k inside the same write: those buckets' base and deltas join the
  batch's LWW resolution and come out as one new base, so no chain ever
  reaches k and the fold is no second job or commit. ``compact()`` is the
  manual form: it folds every delta chain back into one base file per
  bucket in a maintenance commit. CoW is read-optimal, MoR is
  write-optimal; mix freely per epoch.
* **Atomic snapshot commits** — merge, compact and rebucket share one
  commit writer (``_commit``): it writes data files under a fresh commit
  directory, then publishes a JSON manifest via an atomic hard link that
  never replaces a published one. The manifest is the commit point:
  readers only see published manifests, and orphaned data files from a
  crashed merge are invisible (Iceberg snapshot semantics). A manifest carries everything a reader or the next writer
  needs: ``seq``, ``epoch_id`` (``null`` for maintenance), the schema
  file and version, one pointer per bucket (path, schema, rows, optional
  column stats, MoR deltas), per-bucket LSN watermarks, metrics, and the
  table layout it was written under — ``n_buckets`` and the bootstrap
  cutover ``bootstrap_lsn`` — carried forward commit to commit (the
  Iceberg analogue: the partition spec lives in the snapshot metadata).
  A layout change is therefore one atomic publish, never a second file.
* **Exactly-once epochs** — the manifest records ``epoch_id``; re-applying
  an already-committed epoch is a structural no-op (checked before any
  work). This is the epoch-commit ledger of SURVEY §4.2 #2, and the batch
  generalization of the reference's idempotent set-union merge
  (PontusProcessorBase.java:303-327: re-adding the same values is a no-op).
* **Retained tombstones** — deletes are stored as ``_deleted=true`` rows
  with their LSN, so a lower-LSN insert delivered in a *later* epoch still
  loses (out-of-order delivery across epochs). ``read()`` filters them.
* **Schema evolution** — per-epoch schema diff: new columns are appended
  (nullable), int→long / float→double widenings are applied, and old data
  files are read through the current schema with cast-alignment (Iceberg
  ``ALTER TABLE ADD COLUMN`` / type-promotion semantics, SURVEY §4.2 #3).
* **LWW merge rule** — max ``lsn`` wins per (conv_id, turn_idx), the
  distributed form of the reference's max-frequency last-writer-wins upsert
  (PontusDiscoveryDBClassifierProcessor.java:253-273). Two physical
  strategies over the same total order (``lww_payload_order``):

  - ``lww="window"`` (default) — ONE shuffle per epoch: rows are
    hash-partitioned straight into the (bucket, write-salt) layout the
    file write needs, and the winner per key is ``row_number()==1`` over a
    window partitioned by (bucket, salt, key) ordered by the LWW order
    descending. Hash partitioning on (bucket, salt) — both functions of
    the key — already clusters every key, so the window adds a sort but NO
    second exchange, and the write inherits the layout as-is. Fewer stage
    barriers and ~30% less shuffled data than the agg strategy at typical
    duplicate rates (measured: 1.15-1.25× faster end-to-end at 2 AND 8
    cores, and a better 2→8 scaling slope — see BENCH/BASELINE.md).
  - ``lww="agg"`` — ``max_by(payload, order)`` partial+final aggregation,
    then a second exchange into the write layout. The map-side combine
    folds per-key duplicates BEFORE the shuffle, so it stays the right
    choice when single keys receive duplicate-delivery storms (thousands
    of copies of one (conv_id, turn_idx) per epoch); at ordinary dup
    rates the combine saves less than the extra exchange costs.

  A mega-conversation (hot conv_id, many distinct keys) is handled the
  same way by both: an ADAPTIVE write salt splits each bucket across as
  many tasks/files as its size warrants (manifest-recorded per-part rows,
  plus the probe's batch counts in a merge that probes;
  ROWS_PER_WRITE_TASK per task, capped at MAX_WRITE_SALT) — a hot bucket
  fans out, a cold bucket stays one right-sized file instead of 8 tiny
  ones. A copy-on-write merge with no hot bucket (and ``compact``) caps
  its exchange at the session's shuffle partitions, which
  ``session.build_session`` sets to the parallelism level: a task holds
  several cold buckets and writes them one after another, one file each.
  A merge with a hot bucket keeps one partition per (touched bucket,
  salt) group — the exchange hashes (bucket, salt), so fewer partitions
  would crowd a hot bucket's salts into fewer tasks beside the cold
  buckets. A group never spans two tasks, but the hash can still put two
  salts of one bucket in one task (one file); the window sorts on the key
  before the salt, so that file is key-sorted too.
  A merge-on-read delta write runs no probe, so only
  buckets the manifest already sizes past one task get a salt, and its
  exchange carries no partition count: AQE coalesces it to the epoch's
  size, and a (bucket, salt) group never spans two tasks. A cold bucket is
  therefore one delta file however large the epoch, a hot one at most its
  salt's worth; a conversation that turns hot within one delta epoch, in
  a bucket the manifest still sizes at one task, is written by one task.
  Both strategies resolve by the identical order struct, so winners —
  tie-breaks included — are bit-identical (asserted in tests).

* **Per-handle caches** — three, none of which holds anything a later
  commit can change: parsed manifests keyed by file name and parsed
  schema files keyed by name (both immutable once published), and the
  expression cache (``_cached``): column lists that depend only on a
  schema and the table layout — the read path's cast list, the LWW fold,
  ``table_changes``' image projections, the merge's input projection,
  window and projections, the bucket expression. Each is built once per
  handle and reused by every epoch and read, since a plan's build on the
  driver costs py4j round trips per column expression. The merge also
  builds each input in one ``select`` (cast, bucket, side and salt
  together), because every DataFrame op re-runs the analyzer over the
  whole plan.

Single-writer assumption: one runner commits at a time (the driver of the
streaming query). A second writer that read the ledger before a commit it
races gets ``CommitConflictError`` (retryable: the retry re-reads the
ledger) and never replaces or empties a published commit. Two writers
whose data writes overlap in time still share the seq-named commit dir;
the full optimistic-retry loop Iceberg provides is out of scope here.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from concurrent.futures import Future
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_LSN = "_lsn"
META_DELETED = "_deleted"
BUCKET_COL = "_b"
# write-path salt fan-out per bucket (skewed-bucket parallelism; see merge_into)
WRITE_SALT = 8
# adaptive write-salt sizing (merge_into): one write task/file per this many
# rows of a bucket's rewrite, capped — at ~1 KB/row this targets the
# 100-200 MB parquet files a 100 TB table wants, instead of salting every
# cold bucket 8× (maintenance rewrites keep the fixed WRITE_SALT: they
# always rewrite whole buckets, where a fixed split is the point)
ROWS_PER_WRITE_TASK = 100_000
MAX_WRITE_SALT = 64
# bucket→fan-out lookup strategy cutover: a literal create_map lookup is a
# LINEAR scan of the map per row in codegen (GetMapValue over
# ArrayBasedMapData has no hash index), so it is only used while the map is
# small; a wide epoch (hundreds+ touched buckets) switches to a broadcast
# hash join against a tiny (bucket, fanout) table — O(1) per row
SALT_MAP_LITERAL_MAX = 64

# Iceberg-style type promotions we accept when an epoch widens a column.
# Names are DataType.simpleString() values ("int", "bigint", ...).
_WIDENINGS = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("date", "timestamp"),
}


def _rank(dt: T.DataType) -> str:
    return dt.simpleString()


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Smallest common type of a and b under the supported promotions."""
    if a == b:
        return a
    if (_rank(a), _rank(b)) in _WIDENINGS:
        return b
    if (_rank(b), _rank(a)) in _WIDENINGS:
        return a
    raise ValueError(f"unsupported schema change: {_rank(a)} vs {_rank(b)}")


def evolve_schema(current: T.StructType, incoming: T.StructType) -> tuple[T.StructType, bool]:
    """Merge incoming batch schema into the table schema (add + widen)."""
    fields = {f.name: f for f in current.fields}
    order = [f.name for f in current.fields]
    changed = False
    for f in incoming.fields:
        if f.name in fields:
            w = widen(fields[f.name].dataType, f.dataType)
            if w != fields[f.name].dataType:
                fields[f.name] = T.StructField(f.name, w, True)
                changed = True
        else:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
            order.append(f.name)
            changed = True
    return T.StructType([fields[n] for n in order]), changed


def lww_payload_order(non_key: list[str]) -> tuple:
    """The ONE pair of (payload, order) struct expressions every LWW
    resolution in the lake uses — the copy-on-write merge aggregation and
    the merge-on-read read/compaction fold share these verbatim, so a row
    set resolved in one pass (CoW) and the same rows resolved in stages
    (MoR: batch fold at write, base+delta fold at read) pick the same
    winner, tie-breaks included.

    ``max_by(payload, order)`` beats ``max(struct(...))`` ~3× because the
    aggregation buffer compares the small order key, not the full payload
    (text included); the content hash keeps same-LSN ties deterministic
    across cluster sizes, replays, and staged folds. Iterated max_by over a
    total order is associative, which is exactly what makes the staged MoR
    fold equal to the single-pass CoW merge."""
    payload = F.struct(
        F.col(META_LSN), F.col(META_DELETED), *[F.col(c) for c in non_key]
    )
    order = F.struct(
        F.col(META_LSN),
        F.col(META_DELETED),
        # zero-arg xxhash64 is an AnalysisException (key-only schemas)
        (F.xxhash64(*[F.col(c) for c in non_key]) if non_key else F.lit(0)).alias("_h"),
    )
    return payload, order


def _full_schema(schema: T.StructType) -> T.StructType:
    """``schema`` plus the LWW meta columns: the physical schema of every
    data file (the bucket is a directory key, never a file column)."""
    return T.StructType(
        schema.fields
        + [
            T.StructField(META_LSN, T.LongType()),
            T.StructField(META_DELETED, T.BooleanType()),
        ]
    )


class CommitConflictError(RuntimeError):
    """Another writer published the commit seq this one was about to take.
    Nothing of this attempt is visible; retrying re-reads the ledger (an
    epoch the other writer already committed is then skipped)."""


def _write_json(path: str, obj, replace: bool = True) -> None:
    """Publish ``obj`` at ``path`` atomically (mkstemp, mode 0644): a
    reader sees the whole file or none of it. Manifests, schema files and
    ``_table.json`` all go through here; a failed write removes its tmp
    file (``fsck`` lists any a killed process left). ``replace=False``
    publishes by hard link, which raises ``FileExistsError`` instead of
    replacing an existing ``path`` (a manifest is never rewritten)."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".tmp-")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(obj, fh)
        os.chmod(tmp, 0o644)
        if replace:
            os.rename(tmp, path)
            return
        os.link(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    os.unlink(tmp)


@dataclass
class MergeMetrics:
    """One merge's commit metrics, persisted in its manifest. A CoW merge
    counts exactly, with no job of its own: ``rows_in_batch`` sums the
    probe's per-bucket counts, and ``keys_in_batch`` and the conflict
    classes ride the write's Observation. A MoR delta write reads no
    target and runs no probe, so it reports ``rows_in_batch``,
    ``keys_in_batch``, ``updated``, ``inserted``, ``deleted`` and
    ``stale`` as -1."""

    epoch_id: int
    mode: str = "cow"
    skipped: bool = False
    rows_in_batch: int = 0
    keys_in_batch: int = 0
    rows_applied: int = 0
    updated: int = 0
    inserted: int = 0
    deleted: int = 0
    stale: int = 0  # source rows that lost LWW to an existing higher LSN
    buckets_touched: int = 0  # buckets the commit wrote, folded ones included
    # MoR buckets whose delta chain the merge folded into a new base
    buckets_folded: int = 0
    lsn_watermarks: dict[str, int] = field(default_factory=dict)
    wall_sec: float = 0.0
    probe_sec: float = 0.0  # staging scan + touched-bucket/watermark probe
    # merge aggregation + salted bucket write + its footer/stats pass
    write_sec: float = 0.0

    def as_dict(self) -> dict:
        return asdict(self)


class ParquetLakeTable:
    """Parquet mini-lake with Iceberg-shaped MERGE semantics (module doc)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        bucket_key: str = "conv_id",
        n_buckets: int = 32,
        stats_cols: tuple[str, ...] = (),
    ):
        """``key_cols``/``bucket_key``/``n_buckets``/``stats_cols`` are
        CREATION-time properties, persisted in ``_table.json`` next to the
        data, and re-opening an existing root ADOPTS the stored values.
        From the first commit on, the bucket count a key routes by is the
        one its manifest carries (module doc): a handle always acts under
        the layout of the manifest it reads, so a writer opened with a
        different count can never route a key's new rows away from its
        history. Change the layout via ``rebucket``, never via constructor
        args."""
        self.spark = spark
        self.root = root
        self._commit_cache: dict[str, dict] = {}
        self._schema_cache: dict[str, T.StructType] = {}
        # column lists that depend only on a schema and the layout (see
        # ``_cached``)
        self._expr_cache: dict[tuple, object] = {}
        # the bootstrap cutover staged for a table's first commit
        self._cutover: int | None = None
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "_schema"), exist_ok=True)
        props_path = os.path.join(root, "_table.json")
        if os.path.exists(props_path):
            with open(props_path) as fh:
                self._props = json.load(fh)
        else:
            self._props = {
                "key_cols": list(key_cols),
                "bucket_key": bucket_key,
                "n_buckets": n_buckets,
                "stats_cols": list(stats_cols),
                "extra": {},
            }
            self._write_props()
        self.key_cols = list(self._props["key_cols"])
        self.bucket_key = self._props["bucket_key"]
        self.stats_cols = list(self._props.get("stats_cols", []))
        self._commit_files()  # finds the head manifest and its layout

    def _write_props(self) -> None:
        _write_json(os.path.join(self.root, "_table.json"), self._props)

    # ---- layout -----------------------------------------------------
    #
    # The bucket count and the bootstrap cutover live in every manifest.
    # The handle reads them from the newest manifest it has listed: each
    # ledger call lists ``_commits`` anyway and ``_publish`` moves the head,
    # so reading the layout costs no listdir of its own.

    def _layout(self, c: dict | None) -> dict:
        """``{n_buckets, bootstrap_lsn}`` manifest ``c`` acts under. A
        manifest written before they were stamped falls back to
        ``_table.json``; no manifest at all means the creation-time bucket
        count and the cutover a bootstrap has staged."""
        if c is None:
            return {"n_buckets": int(self._props["n_buckets"]), "bootstrap_lsn": self._cutover}
        return {
            "n_buckets": int(c.get("n_buckets", self._props["n_buckets"])),
            "bootstrap_lsn": c.get(
                "bootstrap_lsn", self._props.get("extra", {}).get("bootstrap_lsn")
            ),
        }

    def _head_commit(self) -> dict | None:
        return self._read_commit(self._head) if self._head else None

    @property
    def n_buckets(self) -> int:
        """Bucket count of the newest manifest this handle has listed."""
        return self._layout(self._head_commit())["n_buckets"]

    @property
    def bootstrap_lsn(self) -> int | None:
        """Snapshot cutover of the newest manifest this handle has listed
        (``None``: never bootstrapped). Events at or below it are already
        in the table (``CdcEngine.bootstrap``)."""
        return self._layout(self._head_commit())["bootstrap_lsn"]

    @bootstrap_lsn.setter
    def bootstrap_lsn(self, lsn: int | None) -> None:
        """Stage the cutover the table's first commit stamps (``None``
        clears it); every later commit carries it forward unchanged."""
        if lsn is not None and self._head is not None:
            raise ValueError("the bootstrap cutover is set by a table's first commit")
        self._cutover = lsn

    # ---- commit log -------------------------------------------------
    #
    # Published manifests are IMMUTABLE (atomic rename, never rewritten),
    # so parsed manifests are cached per handle keyed by filename: the
    # listdir stays the source of truth for WHICH commits exist (a
    # concurrent writer's publishes are picked up on the next call), but
    # each manifest is parsed once. Without the cache every epoch re-parses
    # the whole ledger — an O(epochs²) driver-side term over a long replay
    # that lands squarely in the per-epoch fixed cost the scaling gate
    # measures.

    def _commit_files(self) -> list[str]:
        d = os.path.join(self.root, "_commits")
        files = sorted(f for f in os.listdir(d) if f.startswith("commit-"))
        self._head = files[-1] if files else None
        return files

    def _read_commit(self, fname: str) -> dict:
        c = self._commit_cache.get(fname)
        if c is None:
            with open(os.path.join(self.root, "_commits", fname)) as fh:
                c = json.load(fh)
            self._commit_cache[fname] = c
        return c

    def last_commit(self) -> dict | None:
        files = self._commit_files()
        if not files:
            return None
        return self._read_commit(files[-1])

    def committed_epochs(self) -> set[int]:
        out = set()
        for f in self._commit_files():
            e = self._read_commit(f)["epoch_id"]
            if e is not None:  # maintenance commits (compact) are not epochs
                out.add(e)
        return out

    def commit_history(self) -> list[dict]:
        return [self._read_commit(f) for f in self._commit_files()]

    def commit_at(self, seq: int) -> dict:
        """Manifest of snapshot ``seq`` (time travel anchor)."""
        try:
            return self._read_commit(f"commit-{seq:08d}.json")
        except FileNotFoundError:
            raise ValueError(f"no snapshot with seq {seq}") from None

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg expire_snapshots analogue: reclaim data of snapshots
        older than the last ``keep_last``.

        Deletes commit data directories (``data/cNNNNNNNN``) referenced by
        NO retained manifest — a retained manifest may still point into an
        old commit dir for buckets untouched since, and those survive.
        Also removes dead orphan dirs from crashed writes (a dir whose seq
        was later won by a published manifest); an orphan with seq beyond
        the ledger head is kept — it may belong to an in-flight writer
        that has not published yet.

        Manifests themselves are NEVER deleted: they are the exactly-once
        epoch ledger (``committed_epochs``) and the lineage/watermark
        history, and they are tiny JSON. Time travel to a seq whose data
        was expired raises at read time.

        TAGGED snapshots (``tag``) are pinned: their data survives any
        ``keep_last`` until the tag is dropped — the Iceberg tag-retention
        contract that makes a tag a reproducible dataset release, not just
        a name.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the head is never expired)")
        commits = self.commit_history()
        pinned = set(self.tags().values())
        retained = commits[-keep_last:] + [c for c in commits if c["seq"] in pinned]
        referenced = {
            part["path"].split("/")[1]
            for c in retained
            for ptr in c["buckets"].values()
            for part in self._ptr_parts(ptr)  # base AND merge-on-read deltas
        }
        max_seq = commits[-1]["seq"] if commits else 0
        data_root = os.path.join(self.root, "data")
        removed: list[str] = []
        reclaimed = 0
        if os.path.exists(data_root):
            for d in sorted(os.listdir(data_root)):
                try:
                    seq = int(d.lstrip("c"))
                except ValueError:
                    continue
                if d in referenced or seq > max_seq:
                    continue
                p = os.path.join(data_root, d)
                for dirpath, _dirs, files in os.walk(p):
                    reclaimed += sum(
                        os.path.getsize(os.path.join(dirpath, f)) for f in files
                    )
                shutil.rmtree(p)
                removed.append(d)
        return {
            "removed_dirs": removed,
            "bytes_reclaimed": reclaimed,
            "retained_seqs": [c["seq"] for c in retained],
        }

    def tag(self, name: str, seq: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg tag analogue): the
        reproducible-dataset primitive — "train-v3 is seq 41" survives any
        later ingest AND ``expire_snapshots`` until the tag is dropped.
        Defaults to the current head. Stored in table metadata atomically;
        re-tagging an existing name moves it."""
        if seq is None:
            head = self.last_commit()
            if head is None:
                raise ValueError("cannot tag an empty table")
            seq = head["seq"]
        self.commit_at(int(seq))  # raises if no such snapshot
        self._write_tags({**self.tags(), name: int(seq)})
        return int(seq)

    def drop_tag(self, name: str) -> None:
        self._write_tags({k: v for k, v in self.tags().items() if k != name})

    def tags(self) -> dict[str, int]:
        return {k: int(v) for k, v in self._props.get("extra", {}).get("tags", {}).items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        self._props.setdefault("extra", {})["tags"] = tags
        self._write_props()

    def read_tag(self, name: str) -> DataFrame:
        """Snapshot read by tag name — time travel with a stable handle."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"unknown tag {name!r} (have: {sorted(tags)})")
        return self.read(at_seq=tags[name])

    def fsck(self, repair: bool = False) -> dict:
        """Table integrity check (and crash-debris repair) — the ops tool a
        10^10-event lake needs after driver crashes and kill -9s.

        Verifies, without touching a data file's contents:

        * every ledger manifest parses, its ``seq`` matches its filename,
          and its schema version file exists (``bad_manifests``);
        * every bucket pointer of every manifest — base file sets AND
          merge-on-read deltas — resolves to an existing directory
          (``missing_paths``: real corruption, unrepairable here; restore
          from a replica or re-replay the source);
        * data commit dirs referenced by NO manifest are classified dead
          (``seq <=`` ledger head: a writer crashed between data write and
          manifest publish — the atomic-rename commit protocol makes them
          invisible but they hold disk) or in-flight (``seq >`` head: an
          unpublished writer may still be running — never touched);
        * stale ``.tmp-*`` droppings of interrupted atomic JSON writes —
          manifests, schema files, ``_table.json`` (``tmp_files``, paths
          relative to the root).

        With ``repair=True`` dead orphan dirs and tmp droppings are
        deleted. This is ZERO-data-loss repair — unlike
        ``expire_snapshots`` it never removes data referenced by any
        manifest, so time travel is unaffected. Cost: one listdir of
        ``data/`` + the manifest JSONs + one existence stat per bucket
        pointer — O(commits × buckets), no data-file listing, no Spark job.
        """
        commits_dir = os.path.join(self.root, "_commits")
        data_root = os.path.join(self.root, "data")
        report: dict = {
            "bad_manifests": [],
            "missing_paths": [],
            "dead_orphan_dirs": [],
            "inflight_dirs": [],
            "tmp_files": [],
            "removed": [],
            "ok": True,
        }
        commits: list[dict] = []
        for f in self._commit_files():
            path = os.path.join(commits_dir, f)
            try:
                with open(path) as fh:
                    c = json.load(fh)
                if f != f"commit-{c['seq']:08d}.json":
                    raise ValueError(f"seq {c['seq']} != filename {f}")
                if not os.path.exists(os.path.join(self.root, "_schema", c["schema"])):
                    raise ValueError(f"schema file {c['schema']} missing")
                commits.append(c)
            except (ValueError, KeyError, json.JSONDecodeError) as e:
                report["bad_manifests"].append({"file": f, "error": str(e)})
        referenced: set[str] = set()
        for c in commits:
            for ptr in c["buckets"].values():
                for part in self._ptr_parts(ptr):
                    referenced.add(part["path"].split("/")[1])
                    if not os.path.exists(os.path.join(self.root, part["path"])):
                        report["missing_paths"].append(
                            {"seq": c["seq"], "path": part["path"]}
                        )
        max_seq = commits[-1]["seq"] if commits else 0
        if os.path.exists(data_root):
            for d in sorted(os.listdir(data_root)):
                try:
                    seq = int(d.lstrip("c"))
                except ValueError:
                    continue
                if d in referenced:
                    continue
                kind = "inflight_dirs" if seq > max_seq else "dead_orphan_dirs"
                report[kind].append(d)
        report["tmp_files"] = sorted(
            os.path.join(d, f)
            for d in ("_commits", "_schema", "")
            for f in os.listdir(os.path.join(self.root, d))
            if f.startswith(".tmp-")
        )
        report["ok"] = not (
            report["bad_manifests"] or report["missing_paths"]
        )
        if repair:
            for d in report["dead_orphan_dirs"]:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                report["removed"].append(f"data/{d}")
            for f in report["tmp_files"]:
                os.remove(os.path.join(self.root, f))
                report["removed"].append(f)
        return report

    def compact(self, min_files: int = 2) -> dict:
        """Iceberg ``rewrite_data_files`` (bin-pack compaction) analogue —
        the manual maintenance call. (A MoR engine with a chain bound needs
        no call: its delta writes fold a full chain themselves, see
        ``merge_into(max_deltas=...)``.)

        Copy-on-write at bucket granularity accretes one file set per
        touched epoch ONLY until the next merge rewrites the bucket — but a
        bucket that keeps winning small epochs can still fragment into many
        small salted files, and small files are the classic lake read-path
        killer (footer/open overhead per file, tiny row groups defeat
        column-chunk skipping). ``compact`` rewrites every bucket whose
        pointer currently holds ≥ ``min_files`` data files into a single
        sorted file and publishes a MAINTENANCE commit: same epoch ledger
        (``epoch_id: null`` — ``committed_epochs`` and exactly-once are
        untouched), same watermarks, same logical rows (tombstones
        included, byte-identical state), new pointers. Old snapshots still
        time-travel until ``expire_snapshots`` reclaims them.

        Buckets are rewritten through the CURRENT schema (compaction is
        also the natural point to retire old-schema files). Returns
        ``{buckets_compacted, files_before, files_after, seq}``."""
        prev = self.last_commit()
        if prev is None:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0, "seq": 0}

        def _files(ptr: dict) -> list[str]:
            out = []
            for part in self._ptr_parts(ptr):
                d = os.path.join(self.root, part["path"])
                out.extend(f for f in os.listdir(d) if f.endswith(".parquet"))
            return out

        # a bucket qualifies on fragmentation OR on carrying merge-on-read
        # deltas — compaction is what retires deltas and restores the
        # read-optimal one-version-per-key layout (Iceberg: rewrite_data_files
        # over a MoR table applies the equality deletes)
        todo = {
            b: ptr
            for b, ptr in prev["buckets"].items()
            if len(_files(ptr)) >= min_files or ptr.get("deltas")
        }
        files_before = sum(len(_files(p)) for p in todo.values())
        if not todo:
            return {
                "buckets_compacted": 0,
                "files_before": 0,
                "files_after": 0,
                "seq": prev["seq"],
            }
        df = self._read_manifest_buckets(
            prev, sorted(todo), self._file_schema(prev["schema"])
        ).withColumn(BUCKET_COL, self._bucket_expr(self._layout(prev)["n_buckets"]))
        # each bucket whole in one task → one output file per bucket, sorted
        # on the merge key so row groups stay range-clustered for turn
        # scans. The sort leads with the bucket: the partitioned write sorts
        # on it, and a sort that does not start with it would be replaced
        n_tasks = self._write_tasks([1] * len(todo))
        df = df.repartition(n_tasks, F.col(BUCKET_COL)).sortWithinPartitions(
            BUCKET_COL, *self.key_cols
        )
        out = {"buckets_compacted": len(todo), "files_before": files_before}

        def manifest(parts: dict, _footers: dict) -> dict:
            buckets = {**prev["buckets"], **{str(b): p for b, p in parts.items()}}
            out["files_after"] = sum(len(_files(buckets[b])) for b in todo)
            return {
                "buckets": buckets,
                "watermarks": prev.get("watermarks", {}),
                "metrics": {"maintenance": "compact", **out},
            }

        return {"seq": self._commit(prev, df, prev["schema"], manifest)["seq"], **out}

    def rebucket(self, n_buckets: int) -> dict:
        """Bucket-layout evolution (the Iceberg partition-spec-evolution
        analogue): rewrite the live table under a new bucket count in ONE
        maintenance commit. At 10^10 events the right bucket count grows
        with the table — a layout fixed at creation eventually leaves each
        bucket too large for a task (or too few buckets to spread across
        the cluster). The rewrite is a single shuffle of the current
        snapshot (deltas are folded on the way through); the exactly-once
        epoch ledger is untouched (``epoch_id: null``), per-bucket LSN
        watermarks are recomputed under the new layout from the rewritten
        rows (provably equal to the old maxima, regrouped — every key's
        stored winner carries the max LSN applied to it), and old snapshots
        keep time-traveling under their own layout because bucket pointers
        are path-based and each manifest carries its own ``n_buckets``. A
        ``table_changes`` diff that crosses a rebucket boundary sees every
        pointer changed and falls back to a full-scan diff — correct, just
        unpruned (documented trade).

        The new bucket count is stamped in the maintenance commit itself,
        so the rewrite and the layout change are one atomic publish: a
        crash leaves either the old layout with the old data or the new
        layout with the new data. A table with no commit yet has no
        manifest to carry it; its creation-time count in ``_table.json``
        changes instead.

        Returns ``{seq, n_buckets_before, n_buckets_after, rows}``."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        prev = self.last_commit()
        out = {"n_buckets_before": self._layout(prev)["n_buckets"], "n_buckets_after": n_buckets, "rows": 0}
        if prev is None:
            self._props["n_buckets"] = n_buckets
            self._write_props()
            return {"seq": 0, **out}
        df = None
        if prev["buckets"]:
            obs = Observation("rebucket")
            salt = F.pmod(F.xxhash64(*self.key_cols), F.lit(WRITE_SALT))
            df = (
                self._read_manifest_buckets(
                    prev, sorted(prev["buckets"]), self._file_schema(prev["schema"])
                )
                .withColumn(BUCKET_COL, self._bucket_expr(n_buckets))
                .observe(obs, F.count(F.lit(1)).alias("rows"))
                .repartition(n_buckets * WRITE_SALT, F.col(BUCKET_COL), salt)
                # bucket first, as in compact: the write keeps this order
                .sortWithinPartitions(BUCKET_COL, *self.key_cols)
            )

        def manifest(parts: dict, footers: dict) -> dict:
            if df is not None:
                out["rows"] = int(obs.get["rows"])
            # per-bucket watermarks under the new layout, from the written
            # files' footers (tombstones included) — no pass over the rows
            return {
                "n_buckets": n_buckets,
                "buckets": {str(b): p for b, p in parts.items()},
                "watermarks": {str(b): hi for b, (_n, hi) in footers.items() if hi is not None},
                "metrics": {"maintenance": "rebucket", **out},
            }

        return {"seq": self._commit(prev, df, prev["schema"], manifest)["seq"], **out}

    def merge_probes(self, mode: str) -> bool:
        """Whether a ``merge_into`` in ``mode`` probes its batch now: a CoW
        merge and a first merge into an empty table do; a MoR delta write
        (``mode="mor"`` on a table with a commit) never does. A delta write
        only makes sense against an existing table; a first merge
        degenerates to the (identical) single-pass CoW path."""
        return mode == "cow" or self.last_commit() is None

    def _commit(
        self,
        prev: dict | None,
        df: DataFrame | None,
        schema_name: str,
        manifest: Callable[[dict, dict], dict],
        side_write: Future | None = None,
    ) -> dict:
        """The one commit writer (``merge_into``, ``compact``, ``rebucket``).
        Writes ``df`` — the caller's laid-out rows, ``None`` for a commit
        without data — into the fresh commit dir of seq ``prev + 1``, one
        ``_b=`` dir per bucket, and hands ``manifest`` the written parts
        (``{bucket: part pointer}``, rows and column stats included) and
        footers (``{bucket: (rows, max _lsn)}``). ``manifest`` returns the
        commit body under the caller's own rules — buckets, watermarks,
        metrics, and the ``epoch_id``, ``schema_version`` or ``n_buckets``
        it sets. Unset, ``epoch_id`` is null (a maintenance commit) and the
        schema version and the layout (``n_buckets``, ``bootstrap_lsn``) are
        carried forward from ``prev``. Publishes the commit (``side_write``
        awaited first) and returns it."""
        seq = prev["seq"] + 1 if prev else 1
        if os.path.exists(self._manifest_path(seq)):
            # a writer that read the ledger before another one published
            # this seq: fail before touching that commit's data dir
            raise CommitConflictError(f"commit seq {seq} was published by another writer")
        parts: dict[int, dict] = {}
        footers: dict[int, tuple[int, int | None]] = {}
        if df is not None:
            commit_dir, abs_dir = self._fresh_commit_dir(seq)
            df.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(abs_dir)
            footers = self._part_footers(abs_dir)
            stats = (
                self._collect_part_stats(abs_dir, self._stored_schema(schema_name))
                if self.stats_cols and footers
                else {}
            )
            if not footers:
                # nothing survived the caller's filters: an empty commit
                shutil.rmtree(abs_dir, ignore_errors=True)
            for b, (rows, _hi) in footers.items():
                parts[b] = {"path": f"{commit_dir}/{BUCKET_COL}={b}", "schema": schema_name, "rows": rows}
                if b in stats:
                    parts[b]["stats"] = stats[b]
        commit = {
            "seq": seq,
            "epoch_id": None,
            "schema": schema_name,
            "schema_version": prev["schema_version"] if prev else 1,
            **self._layout(prev),
            **manifest(parts, footers),
        }
        self._publish(commit, side_write)
        return commit

    def _fresh_commit_dir(self, seq: int) -> tuple[str, str]:
        """(relative, absolute) data dir of the unpublished commit ``seq``,
        emptied first. Anything already there was left by an attempt at the
        same seq that failed before ``_publish`` (one writer, and a
        published seq is never written again). A dynamic-overwrite write
        replaces only the ``_b=`` dirs it produces, so a leftover bucket dir
        would otherwise be listed — and published — as part of this
        commit."""
        commit_dir = f"data/c{seq:08d}"
        abs_dir = os.path.join(self.root, commit_dir)
        shutil.rmtree(abs_dir, ignore_errors=True)
        return commit_dir, abs_dir

    def _manifest_path(self, seq: int) -> str:
        return os.path.join(self.root, "_commits", f"commit-{seq:08d}.json")

    def _publish(self, commit: dict, side_write: Future | None = None) -> None:
        """Atomic commit point: tmp write + hard link, which never replaces
        a published manifest — a writer racing another for the same seq
        gets ``CommitConflictError`` instead of silently dropping the
        other's commit. ``side_write``: a concurrent write the commit
        depends on (the runner's DLQ write); it is awaited first, and its
        failure leaves the commit unpublished."""
        if side_write is not None:
            side_write.result()
        path = self._manifest_path(commit["seq"])
        try:
            _write_json(path, commit, replace=False)
        except FileExistsError:
            raise CommitConflictError(
                f"commit seq {commit['seq']} was published by another writer"
            ) from None
        self._head = os.path.basename(path)

    # ---- schema -----------------------------------------------------

    def current_schema(self) -> T.StructType | None:
        c = self.last_commit()
        if c is None:
            return None
        return self._stored_schema(c["schema"])

    def _stored_schema(self, sname: str) -> T.StructType:
        """Parse one versioned schema file, cached per handle. Schema files
        are immutable (a new version gets a new name), so caching by name
        is safe — same contract as the manifest cache."""
        s = self._schema_cache.get(sname)
        if s is None:
            with open(os.path.join(self.root, "_schema", sname)) as fh:
                s = T.StructType.fromJson(json.load(fh))
            self._schema_cache[sname] = s
        return s

    def _file_schema(self, sname: str) -> T.StructType:
        """The exact physical schema of every data file written under
        stored schema ``sname``: its fields plus the LWW meta columns
        (the bucket is a directory key, never a file column). Passing this
        to ``spark.read.schema(...)`` skips parquet footer schema
        inference — a per-epoch driver cost on the merge's target read
        that grows with the touched buckets' file counts."""
        return _full_schema(self._stored_schema(sname))

    def _cached(self, key: tuple, build: Callable[[], object]):
        """``build()``, once per handle and ``key``. Every Column a plan is
        built from costs py4j round trips to create, and most of a plan's
        columns depend only on a schema and the table layout. Such lists
        are cached here, keyed on those inputs (schemas, bucket count, key
        columns), and reused by every epoch and read. A Column is an
        unresolved expression, so one applies to any DataFrame of the
        session. Nothing epoch-specific is cached: no literal epoch id, no
        ``Observation``, no salt map with entries. The cache lives on the
        handle, so a Column never outlives the session it was built in."""
        v = self._expr_cache.get(key)
        if v is None:
            v = self._expr_cache[key] = build()
        return v

    def _align_cols(self, have: T.StructType, schema: T.StructType) -> list[Column]:
        """Projection of rows stored under ``have`` onto ``schema``:
        missing columns become typed nulls, present columns are cast (the
        read path for old-schema data files)."""

        def build() -> list[Column]:
            names = {f.name for f in have.fields}
            return [
                (F.col(f.name) if f.name in names else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]

        return self._cached(("align", have, schema), build)

    def _write_schema(self, schema: T.StructType, version: int) -> str:
        # published atomically (same as _publish): the per-handle schema
        # cache and the inference-free read path depend on a schema file
        # being immutable-and-complete once its name is visible — a fresh
        # reader handle racing this writer must never see a partial file
        name = f"v{version:04d}.json"
        _write_json(os.path.join(self.root, "_schema", name), schema.jsonValue())
        return name

    # ---- read -------------------------------------------------------

    def read_raw(self, at_seq: int | None = None) -> DataFrame:
        """Snapshot including meta columns and tombstones; ``at_seq`` time-
        travels to an older manifest (valid while its data dirs survive
        ``expire_snapshots``)."""
        c, rows = self._snapshot(at_seq)
        # partitionBy writes the bucket as a directory key; recover it under
        # the layout of the snapshot read, not the table's current one
        return rows.withColumn(BUCKET_COL, self._bucket_expr(self._layout(c)["n_buckets"]))

    def read(self, at_seq: int | None = None) -> DataFrame:
        """Live rows (tombstones filtered, meta dropped); ``at_seq`` reads
        an older snapshot (time travel)."""
        return self._live(self._snapshot(at_seq)[1])

    def _snapshot(self, at_seq: int | None) -> tuple[dict | None, DataFrame]:
        """(manifest, its rows with the meta columns, no bucket column) of
        snapshot ``at_seq`` or the head."""
        c = self.commit_at(at_seq) if at_seq is not None else self.last_commit()
        if c is None or not c["buckets"]:
            base = self._stored_schema(c["schema"]) if c is not None else T.StructType([])
            return c, self.spark.createDataFrame([], _full_schema(base))
        # shared delta-aware reader: old-schema files are cast-aligned, and
        # buckets holding merge-on-read deltas are LWW-folded on the way out
        return c, self._read_manifest_buckets(c, sorted(c["buckets"]), self._file_schema(c["schema"]))

    def _live(self, rows: DataFrame) -> DataFrame:
        """``rows`` without tombstones and meta columns."""
        live = self._cached(("live",), lambda: ~F.col(META_DELETED))
        return rows.where(live).drop(META_LSN, META_DELETED)

    def _collect_part_stats(self, abs_dir: str, schema: T.StructType) -> dict:
        """Per-bucket min/max of the table's ``stats_cols`` over ONE freshly
        written commit dir (Iceberg's per-file column stats analogue, at
        part granularity). One aggregation job whose scan Catalyst prunes
        to (bucket, stats columns) — O(epoch bytes in those columns), never
        a second pass over the payload. Null-only parts get null bounds
        and are never skipped (conservative)."""
        cols = [c for c in self.stats_cols if c in {f.name for f in schema.fields}]
        if not cols:
            return {}
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        rows = self.spark.read.parquet(abs_dir).groupBy(BUCKET_COL).agg(*aggs).collect()

        def _j(v):
            # JSON-safe bound: timestamps/dates stringify via isoformat
            return v.isoformat() if hasattr(v, "isoformat") else v

        return {
            int(r[BUCKET_COL]): {
                c: [_j(r[f"_lo_{c}"]), _j(r[f"_hi_{c}"])] for c in cols
            }
            for r in rows
        }

    def _salt_col(self, salts: dict[int, int], bucket: Column, keys: list[Column]) -> Column | None:
        """``_salt`` = pmod(xxhash64(key), the bucket's fan-out), over the
        given bucket and key expressions. Rows whose bucket has no fan-out
        (a delta's unsalted buckets) get a null salt: each such bucket is
        one group, hashed to a stable partition.

        Small maps inline as a literal ``create_map`` lookup (no extra plan
        node); ``None`` for a wide epoch (hundreds+ touched buckets), which
        ``_join_salt`` serves with a broadcast hash join — the literal-map
        lookup is a linear scan per row."""
        if not salts:
            # every salt 0, but still an expression of the key: a literal
            # would be folded out of the window's partitioning, which the
            # exchange on (bucket, salt) would then no longer satisfy
            fanout = F.lit(1)
        elif len(salts) <= SALT_MAP_LITERAL_MAX:
            fanout = F.element_at(
                F.create_map(*[F.lit(x) for b, s in sorted(salts.items()) for x in (b, s)]),
                bucket,
            )
        else:
            return None
        return F.pmod(F.xxhash64(*keys), fanout).alias("_salt")

    def _write_tasks(self, salts: list[int]) -> int:
        """Write tasks of a rewrite of buckets salted ``salts`` ways: one
        per (bucket, salt) group when a bucket is hot, else the cold
        buckets capped at the session's shuffle partitions."""
        if any(s > 1 for s in salts):
            return sum(salts)
        return min(len(salts), int(self.spark.conf.get("spark.sql.shuffle.partitions")))

    def _join_salt(self, df: DataFrame, salts: dict[int, int]) -> DataFrame:
        """``df`` with ``_salt`` from a broadcast (bucket, fan-out) table:
        the wide-map form of ``_salt_col``."""
        smap = self.spark.createDataFrame(sorted(salts.items()), f"{BUCKET_COL} int, _fanout int")
        return (
            df.join(F.broadcast(smap), BUCKET_COL, "left")
            .withColumn("_salt", F.pmod(F.xxhash64(*self.key_cols), F.col("_fanout")))
            .drop("_fanout")
        )

    def _merge_input(
        self, have: T.StructType, schema: T.StructType, n: int, lsn_op: tuple[str, str] | None
    ) -> tuple[list[Column], Column, list[Column], Column]:
        """One merge input's projection from rows stored under ``have``:
        ``(cols, bucket, keys, no_salt)``. ``cols`` casts the table
        columns to ``schema`` and adds ``_lsn``, ``_deleted``, ``_b`` under
        ``n`` buckets and ``_src``. ``lsn_op`` names the batch's lsn and op
        columns; ``None`` marks a target file set, whose ``have`` and
        ``schema`` are full schemas (meta columns included). The bucket and
        the salt are computed from the CAST key expressions — a target row
        and a batch row of one key must land in the same (bucket, salt)
        group even when the batch widens a key column — and ``no_salt`` is
        the salt of an empty salt map."""

        def build() -> tuple:
            names = {f.name for f in have.fields}
            cast = {
                f.name: (F.col(f.name) if f.name in names else F.lit(None)).cast(f.dataType)
                for f in schema.fields
            }
            if lsn_op is not None:
                cast[META_LSN] = F.col(lsn_op[0]).cast("long")
                cast[META_DELETED] = F.col(lsn_op[1]) == "D"
            bucket = F.pmod(F.xxhash64(cast[self.bucket_key]), F.lit(n)).cast("int")
            keys = [cast[k] for k in self.key_cols]
            cols = [e.alias(c) for c, e in cast.items()] + [
                bucket.alias(BUCKET_COL),
                F.lit(lsn_op is not None).alias("_src"),
            ]
            return cols, bucket, keys, self._salt_col({}, bucket, keys)

        return self._cached(("merge-input", have, schema, n, lsn_op), build)

    def _merge_exprs(self, schema: T.StructType, mor_delta: bool, lww: str) -> dict:
        """The LWW resolution's column lists for table schema ``schema``:
        the write layout, the window select (or the aggregation) with the
        conflict flags of a merge that reads its target, the winner filter,
        the ``Observation``'s aggregates and the final projection."""

        def build() -> dict:
            keys = [F.col(k) for k in self.key_cols]
            non_key = [f.name for f in schema.fields if f.name not in self.key_cols]
            meta = [F.col(META_LSN), F.col(META_DELETED)]
            payload, order = lww_payload_order(non_key)
            # conflict flags: which side (batch or target) each key's
            # versions came from — only a merge that reads the target can
            # classify
            flags = {} if mor_delta else {
                "_src_lsn": F.max(F.when(F.col("_src"), F.col(META_LSN))),
                "_tgt_lsn": F.max(F.when(~F.col("_src"), F.col(META_LSN))),
                "_tgt_deleted": F.max(F.when(~F.col("_src"), F.col(META_DELETED))),
            }
            x: dict = {"layout": [F.col(BUCKET_COL), F.col("_salt")]}
            if lww == "window":
                # key before salt: the sort this window adds then orders a
                # task's rows (bucket, key), and a file stays key-sorted
                # when two salts of one bucket hash into the same task
                w = Window.partitionBy(BUCKET_COL, *self.key_cols, "_salt").orderBy(
                    F.desc(order)
                )
                wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                x["window"] = [
                    *keys,
                    F.col(BUCKET_COL),
                    *[F.col(c) for c in non_key],
                    *meta,
                    F.row_number().over(w).alias("_rn"),
                    *[e.over(wf).alias(name) for name, e in flags.items()],
                ]
                x["winner"] = F.col("_rn") == 1
            else:
                x["group"] = [*keys, F.col(BUCKET_COL)]
                x["agg"] = [
                    F.max_by(payload, order).alias("_w"),
                    *[e.alias(name) for name, e in flags.items()],
                ]
                x["agg_out"] = [
                    *keys,
                    F.col(BUCKET_COL),
                    *[F.col(f"_w.{c}").alias(c) for c in non_key + [META_LSN, META_DELETED]],
                    *[F.col(name) for name in flags],
                ]
            rows_applied = F.count(F.lit(1)).alias("rows_applied")
            if mor_delta:
                x["observe"] = [rows_applied]
            else:
                src_won = F.col("_src_lsn").isNotNull() & (
                    F.col("_tgt_lsn").isNull() | (F.col("_src_lsn") > F.col("_tgt_lsn"))
                )
                live = ~F.col(META_DELETED)

                def total(cond: Column, name: str) -> Column:
                    return F.sum(cond.cast("long")).alias(name)

                x["observe"] = [
                    rows_applied,
                    total(F.col("_src_lsn").isNotNull(), "keys_in_batch"),
                    total(src_won & F.col("_tgt_lsn").isNotNull() & live, "updated"),
                    total(src_won & F.col("_tgt_lsn").isNull() & live, "inserted"),
                    total(
                        src_won & F.col(META_DELETED)
                        & ~F.coalesce(F.col("_tgt_deleted"), F.lit(False)),
                        "deleted",
                    ),
                    total(
                        F.col("_src_lsn").isNotNull() & F.col("_tgt_lsn").isNotNull()
                        & (F.col("_src_lsn") < F.col("_tgt_lsn")),
                        "stale",
                    ),
                ]
            x["final"] = [F.col(f.name) for f in schema.fields] + meta + [F.col(BUCKET_COL)]
            return x

        return self._cached(("merge", schema, mor_delta, lww), build)

    @staticmethod
    def _part_footers(abs_dir: str) -> dict[int, tuple[int, int | None]]:
        """Per-bucket ``(rows, max _lsn)`` of one freshly written commit
        dir, read from the parquet footers — driver-side, no Spark job
        (Iceberg fills its manifest metrics from the written files the same
        way). The row counts size the NEXT epoch's adaptive write salt; the
        ``_lsn`` maximum (``None`` when the bucket holds no non-null lsn)
        is the new bucket watermark of a MoR delta write or a rebucket,
        neither of which runs a probe. A footer that cannot be read fails
        the commit: the watermarks depend on it."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _n(path: str) -> tuple[int, int | None]:
            md = pq.read_metadata(path)
            hi = None
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                col = next(
                    rg.column(j)
                    for j in range(rg.num_columns)
                    if rg.column(j).path_in_schema == META_LSN
                )
                st = col.statistics
                if st is not None and st.has_min_max:
                    hi = st.max if hi is None else max(hi, st.max)
            return md.num_rows, hi

        by_bucket: dict[int, list[str]] = {}
        for d in os.listdir(abs_dir):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            bdir = os.path.join(abs_dir, d)
            by_bucket[int(d.split("=")[1])] = [
                os.path.join(bdir, f)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            ]
        files = [p for paths in by_bucket.values() for p in paths]
        # footer opens release the GIL in pyarrow's C++ IO; a small pool
        # turns a salt-fanned epoch's serial footer walk into one round-trip
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as pool:
            footers = dict(zip(files, pool.map(_n, files)))
        out = {}
        for b, paths in by_bucket.items():
            maxima = [footers[p][1] for p in paths if footers[p][1] is not None]
            out[b] = (sum(footers[p][0] for p in paths), max(maxima, default=None))
        return out

    def read_where(
        self, predicates: dict[str, tuple], at_seq: int | None = None
    ) -> DataFrame:
        """Stats-pruned snapshot read: ``predicates`` maps a stats column
        to an inclusive ``(lo, hi)`` range (either end may be None). A
        bucket is SKIPPED — its files never open — when, for some
        predicate column, EVERY part of the bucket carries stats whose
        range is disjoint from the predicate's.

        Whole-bucket granularity is what makes this safe under
        merge-on-read: pruning an individual delta part could resurrect a
        superseded row version, but if every part of a bucket is out of
        range then every key's LATEST version is out of range and the
        bucket contributes nothing to the filtered result. The surviving
        buckets are read normally (LWW fold included) and the same range
        filter is applied row-level, where it also pushes down to the
        parquet scan — stats pruning only removes whole file sets the scan
        would otherwise have to open."""
        c = self.commit_at(at_seq) if at_seq is not None else self.last_commit()
        if c is None:
            return self.read(at_seq)

        def _norm(v):
            # same JSON-safe normalization the stats writer used; ISO-8601
            # strings order chronologically, so string comparison is sound
            return v.isoformat() if hasattr(v, "isoformat") else v

        def _disjoint(stats: dict, col: str, lo, hi) -> bool:
            b = stats.get(col)
            if not b or b[0] is None or b[1] is None:
                return False  # no/NULL stats: never skip (conservative)
            plo, phi = b
            lo, hi = _norm(lo), _norm(hi)
            return (hi is not None and plo > hi) or (lo is not None and phi < lo)

        keep = []
        for b, ptr in c["buckets"].items():
            parts = self._ptr_parts(ptr)
            skip = any(
                all(_disjoint(part.get("stats", {}), col, lo, hi) for part in parts)
                for col, (lo, hi) in predicates.items()
            )
            if not skip:
                keep.append(b)

        out = self._live(
            self._read_manifest_buckets(c, sorted(keep), self._file_schema(c["schema"]))
        )
        for col, (lo, hi) in predicates.items():
            if lo is not None:
                out = out.where(F.col(col) >= lo)
            if hi is not None:
                out = out.where(F.col(col) <= hi)
        return out

    @staticmethod
    def _ptr_parts(ptr: dict) -> list[dict]:
        """All file-set parts a bucket pointer references: the base file
        set plus any merge-on-read delta file sets (each carries the schema
        version its files were written under, and its column stats when the
        table records them)."""
        base = {k: ptr[k] for k in ("path", "schema", "stats", "rows") if k in ptr}
        return [base] + list(ptr.get("deltas", []))

    def _lww_fold(self, df: DataFrame, full: T.StructType) -> DataFrame:
        """Resolve multi-version rows (base + MoR deltas) to one winner per
        merge key with the SAME payload/order expressions the CoW merge
        aggregation uses — staged folds and the single-pass merge provably
        agree (see ``lww_payload_order``). Partial+final aggregation,
        map-side combine; the shuffle covers only the rows handed in
        (delta-holding buckets), never the whole table."""

        def build() -> tuple[list[Column], Column, list[Column]]:
            non_key = [
                f.name
                for f in full.fields
                if f.name not in self.key_cols and f.name not in (META_LSN, META_DELETED)
            ]
            payload, order = lww_payload_order(non_key)
            return (
                [F.col(k) for k in self.key_cols],
                F.max_by(payload, order).alias("_w"),
                [
                    F.col(f.name) if f.name in self.key_cols
                    else F.col(f"_w.{f.name}").alias(f.name)
                    for f in full.fields
                ],
            )

        keys, winner, cols = self._cached(("fold", full), build)
        return df.groupBy(*keys).agg(winner).select(*cols)

    def _read_manifest_buckets(
        self, c: dict, bucket_ids: list[str], full: T.StructType
    ) -> DataFrame:
        """Rows of the listed bucket pointers of manifest ``c``, aligned to
        ``full`` (old-schema files read with their own schema, then cast).

        Buckets carrying merge-on-read deltas are LWW-folded here — the
        read-side half of the MoR contract — while delta-free buckets pass
        through with no shuffle at all. The fold's groupBy keys on the
        merge key, whose bucket hash is a function of the bucket key, so a
        row never crosses bucket boundaries during the fold."""
        plain: dict[str, list[str]] = {}
        delta: dict[str, list[str]] = {}
        for b in bucket_ids:
            ptr = c["buckets"].get(b)
            if ptr is None:
                continue
            dest = delta if ptr.get("deltas") else plain
            for part in self._ptr_parts(ptr):
                p = os.path.join(self.root, part["path"])
                if not os.path.exists(p):
                    raise ValueError(
                        f"snapshot references expired data ({part['path']}); "
                        "it was reclaimed by expire_snapshots"
                    )
                dest.setdefault(part["schema"], []).append(p)

        def _union(by_schema: dict[str, list[str]]) -> DataFrame | None:
            # explicit per-version file schema: no footer inference pass
            parts = []
            for sname, paths in by_schema.items():
                have = self._file_schema(sname)
                parts.append(
                    self.spark.read.schema(have).parquet(*paths).select(*self._align_cols(have, full))
                )
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        out = _union(plain)
        d = _union(delta)
        if d is not None:
            d = self._lww_fold(d, full)
            out = d if out is None else out.unionByName(d)
        if out is None:
            return self.spark.createDataFrame([], full)
        return out

    def table_changes(
        self,
        from_seq: int,
        to_seq: int | None = None,
        images: str = "post",
    ) -> DataFrame:
        """Changelog read (Iceberg CDF / ``table_changes`` analogue): the
        NET row-level delta between committed snapshot ``from_seq`` and
        ``to_seq`` (default: current head) — what a downstream incremental
        consumer must apply to go from one snapshot to the other without
        replaying the change stream. One row per key whose live image
        differs: ``change_type`` insert/update/delete, the post-image for
        inserts/updates, the pre-image for deletes, and the winning
        writer's LSN from the target snapshot.

        ``from_seq=0`` diffs against the empty table (a bootstrap read:
        every live row is an insert).

        ``images="post"`` (default) emits the single relevant image as flat
        columns; ``images="both"`` emits ``pre`` and ``post`` row-image
        structs (NULL pre on insert, NULL post on delete) — the contract
        incremental aggregate maintenance consumes (operators/
        incremental_rollup.py).

        Scale shape: the manifests are diffed first and only buckets whose
        pointer CHANGED between the two snapshots are read on either side —
        an untouched bucket is inherited by pointer, so it provably holds
        identical rows and is pruned without touching its files. The diff
        join therefore scans and shuffles O(changed buckets), not O(table);
        both sides are hash-bucketed identically on the merge key, so the
        full-outer join's shuffle is the same partitioning the merge itself
        uses. Tombstones are retained by the merge (module doc), so deletes
        remain visible to any later ``from_seq``."""
        c_to = self.commit_at(to_seq) if to_seq is not None else self.last_commit()
        if c_to is None:
            raise ValueError("table has no commits")
        if from_seq == 0:
            c_from: dict = {"buckets": {}}
        else:
            c_from = self.commit_at(from_seq)
        schema = self._stored_schema(c_to["schema"])
        full = _full_schema(schema)
        changed = sorted(
            b
            for b in set(c_from["buckets"]) | set(c_to["buckets"])
            if c_from["buckets"].get(b) != c_to["buckets"].get(b)
        )
        old = self._read_manifest_buckets(c_from, changed, full)
        new = self._read_manifest_buckets(c_to, changed, full)
        o_cols, n_cols, ct, changed_row, out = self._cached(
            ("changes", schema, images), lambda: self._changes_exprs(schema, images)
        )
        j = old.select(*o_cols).join(new.select(*n_cols), self.key_cols, "full_outer")
        return j.withColumn("change_type", ct).where(changed_row).select(*out)

    def _changes_exprs(self, schema: T.StructType, images: str) -> tuple:
        """``table_changes``' column lists for table schema ``schema``: the
        two sides' image projections, ``change_type``, its filter and the
        output projection."""
        keys = [F.col(k) for k in self.key_cols]
        data_cols = [f.name for f in schema.fields if f.name not in self.key_cols]

        def side(tag: str) -> list[Column]:
            return [
                *keys,
                F.struct(*[F.col(c) for c in data_cols]).alias(f"_{tag}img"),
                F.col(META_LSN).alias(f"_{tag}lsn"),
                F.col(META_DELETED).alias(f"_{tag}del"),
            ]

        old_live = F.col("_olsn").isNotNull() & ~F.coalesce("_odel", F.lit(False))
        new_live = F.col("_nlsn").isNotNull() & ~F.coalesce("_ndel", F.lit(False))
        ct = (
            F.when(~old_live & new_live, F.lit("insert"))
            .when(old_live & ~new_live, F.lit("delete"))
            .when(old_live & new_live & (F.col("_nlsn") > F.col("_olsn")), F.lit("update"))
        )
        head = [*keys, F.col("change_type"), F.col("_nlsn").alias("lsn")]
        if images == "both":
            # pre+post row images (Delta CDF's update_preimage/postimage,
            # folded into one row) — what algebraic downstream maintenance
            # (incremental_rollup) needs to retract the old contribution
            # and add the new one in a single pass.
            out = [
                *head,
                F.when(old_live, F.col("_oimg")).alias("pre"),
                F.when(new_live, F.col("_nimg")).alias("post"),
            ]
        else:
            img = F.when(F.col("change_type") == "delete", F.col("_oimg")).otherwise(
                F.col("_nimg")
            )
            out = [*head, *[img.getField(c).alias(c) for c in data_cols]]
        return side("o"), side("n"), ct, F.col("change_type").isNotNull(), out

    # ---- merge ------------------------------------------------------

    def _bucket_expr(self, n: int):
        """A row's bucket under an ``n``-bucket layout: readers and merges
        pass the ``n_buckets`` of the manifest they act on."""
        return self._cached(
            ("bucket", n), lambda: F.pmod(F.xxhash64(self.bucket_key), F.lit(n)).cast("int")
        )

    def probe_batch(
        self, pdf: DataFrame, lsn_col: str = "lsn"
    ) -> dict[int, tuple[int, int]]:
        """The touched-bucket / watermark probe as a standalone action:
        ``{bucket: (max_lsn, n_rows)}`` over a two-column projection of the
        batch (≤ n_buckets rows to the driver). Exposed so a caller can
        PREFETCH it on a separate thread while another merge job runs
        (``runner.MultiTableEngine`` does this per table) — the probe must
        finish before a CoW merge plan can be built (it sizes the adaptive
        write salt and picks the target buckets to read), so off the
        critical path it stops costing a serialized job per epoch. A MoR
        delta merge never needs it.

        Null-lsn rows are dropped defensively: a row whose watermark can't
        be computed must never mark a bucket touched nor produce a None
        watermark (int(None) would fail after the data write, before the
        commit — deterministically on every retry)."""
        return {
            r[0]: (r[1], r[2])
            for r in pdf.where(F.col(lsn_col).isNotNull())
            .select(
                self._bucket_expr(self.n_buckets).alias(BUCKET_COL),
                F.col(lsn_col).cast("long").alias(META_LSN),
            )
            .groupBy(BUCKET_COL)
            .agg(F.max(META_LSN), F.count(F.lit(1)))
            .collect()
        }

    def probe_epochs(
        self, pdf: DataFrame, epoch_col: str = "epoch_id", lsn_col: str = "lsn"
    ) -> dict[int, dict[int, tuple[int, int]]]:
        """Every epoch's touched-bucket/watermark probe in ONE grouped job:
        ``{epoch: {bucket: (max_lsn, n_rows)}}``. A replay loop that knows
        its epochs up front (``runner.apply_epochs``) pays one probe-job
        latency for the whole replay instead of one per epoch — the scan
        is the same two-column projection as ``probe_batch`` over all
        epochs at once (columnar, epoch-partition-pruned source), and the
        driver receives ≤ epochs × n_buckets tiny rows. Null-lsn rows are
        dropped for the same reasons as ``probe_batch``."""
        out: dict[int, dict[int, tuple[int, int]]] = {}
        rows = (
            pdf.where(F.col(lsn_col).isNotNull())
            .select(
                F.col(epoch_col).cast("long").alias("_e"),
                self._bucket_expr(self.n_buckets).alias(BUCKET_COL),
                F.col(lsn_col).cast("long").alias(META_LSN),
            )
            .groupBy("_e", BUCKET_COL)
            .agg(F.max(META_LSN), F.count(F.lit(1)))
            .collect()
        )
        for r in rows:
            out.setdefault(int(r[0]), {})[r[1]] = (r[2], r[3])
        return out

    def merge_into(
        self,
        src: DataFrame,
        epoch_id: int,
        lsn_col: str = "lsn",
        op_col: str = "op",
        probe_src: DataFrame | None = None,
        mode: str = "cow",
        lww: str = "window",
        probe: dict[int, tuple[int, int]] | None = None,
        side_write: Future | None = None,
        max_deltas: int | None = None,
    ) -> MergeMetrics:
        """MERGE src (one epoch's change events, may contain intra-batch
        duplicates) into the table under max-LSN LWW. Idempotent per epoch.
        Rows with a null lsn are dropped (no watermark can cover them; the
        runner quarantines them before this).

        ``probe_src``: optional cheaper stand-in for the touched-bucket /
        watermark probe — must contain the same (bucket-key, lsn) rows as
        ``src`` (e.g. the pre-enrichment batch, so the probe pass does not
        re-run an expensive UDF stage). ``probe``: the probe RESULT itself
        (from ``probe_batch`` over the same rows), when the caller already
        ran it — e.g. the replay's grouped ``probe_epochs``; passing it
        skips the probe job entirely. CONTRACT: a passed probe must be
        ``probe_batch`` over the exact post-filter rows of a deterministic
        source — the merge validates that every bucket it writes was
        probe-touched and aborts before commit otherwise (a silent miss
        would drop the untouched bucket's existing rows). Only a CoW merge
        and the first merge into an empty table probe (``merge_probes``); a
        MoR delta write ignores both arguments.

        ``side_write``: a concurrent write this commit depends on (the
        runner's DLQ write). It is awaited just before the commit point,
        so a published commit implies it is durable; if it failed, its
        exception propagates and the epoch stays uncommitted.

        ``max_deltas``: the delta-chain bound k of a MoR delta write (the
        runner passes ``auto_compact_deltas``; ``None``: chains grow until
        ``compact()``). Every bucket whose non-empty chain holds at least
        k−1 deltas — the ones this epoch could bring to k — is folded in
        this same write: its base and deltas join the batch's LWW
        resolution in the (bucket, salt) window, exactly as a CoW merge
        reads its touched buckets, and it is written as a new base pointer
        instead of a delta append. The buckets come from the manifest, so
        the write still runs no probe; an untouched one folds too, so no
        published chain reaches k (k ≥ 2), and its watermark stays put
        (every stored winner's LSN is at most the previous watermark).
        ``MergeMetrics.buckets_folded`` counts them. A CoW merge ignores it.

        ``mode``:

        * ``"cow"`` (default) — copy-on-write: touched buckets are read,
          merged, and rewritten wholesale. Read-optimal (one version per
          key on disk), but write amplification is O(bucket size) per
          epoch: at 10^10 events with small, frequent epochs the merge
          rewrites far more bytes than it ingests.
        * ``"mor"`` — merge-on-read (Iceberg equality-delete analogue, the
          shape Flink CDC writes): the epoch's rows are LWW-deduped
          *within the batch only* and appended as per-bucket DELTA file
          sets — the target is never read, so bytes written per epoch is
          O(batch), not O(touched buckets). Nor is the batch probed: the
          touched buckets are the ``_b=`` directories the write produced,
          and each one's new watermark is ``max(previous, footer max of
          _lsn)`` from the footer pass that also records its row count. The
          write's single exchange partitions on (bucket, salt), salted from
          the manifest's row counts alone, and AQE coalesces it: a cold
          touched bucket is one file, a bucket the manifest sizes past
          ``ROWS_PER_WRITE_TASK`` rows at most its salt's worth (see the
          module docstring). Readers fold base+deltas with the
          same LWW expressions (``_read_manifest_buckets``); ``max_deltas``
          (below) or ``compact()`` folds deltas back into one base per
          bucket.
          Because the target is unread, per-epoch updated/inserted/
          deleted/stale conflict counts are unknowable at write time and
          reported as -1 (Iceberg MoR has the same limitation); the
          authoritative counts come from ``table_changes`` or compaction.
          A first merge into an empty table has nothing to delta against
          and runs the single-pass CoW path.

        Modes may be mixed freely on one table: a CoW merge on a bucket
        carrying deltas reads every part and retires them.

        Equivalent Iceberg statement (SURVEY §4.3):
            MERGE INTO tgt USING src ON tgt.conv_id=src.conv_id AND tgt.turn_idx=src.turn_idx
            WHEN MATCHED AND src.lsn > tgt.lsn AND src.op='D' THEN UPDATE SET _deleted=true ...
            WHEN MATCHED AND src.lsn > tgt.lsn THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        (tombstones retained instead of DELETE so late lower-LSN events lose).
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r} (use 'cow' or 'mor')")
        if lww not in ("window", "agg"):
            raise ValueError(f"unknown lww strategy {lww!r} (use 'window' or 'agg')")
        if max_deltas is not None and max_deltas < 1:
            raise ValueError("max_deltas must be >= 1")
        t0 = time.time()
        if epoch_id in self.committed_epochs():
            return MergeMetrics(epoch_id=epoch_id, skipped=True)

        prev = self.last_commit()
        n = self._layout(prev)["n_buckets"]
        src_schema = src.schema  # one analysis round trip; not cached by PySpark
        incoming = T.StructType(
            [f for f in src_schema.fields if f.name not in (lsn_col, op_col, "epoch_id")]
        )
        if prev is None:
            schema, schema_changed = incoming, True
            version = 1
        else:
            schema, schema_changed = evolve_schema(self._stored_schema(prev["schema"]), incoming)
            version = (prev["schema_version"] + 1) if schema_changed else prev["schema_version"]
        schema_name = self._write_schema(schema, version) if schema_changed else prev["schema"]
        mor_delta = not self.merge_probes(mode)

        # Probe job (CoW and a first merge only): touched buckets, per-bucket
        # source LSN maxima, and per-bucket batch row counts (≤ n_buckets
        # rows to the driver). Runs on a two-column projection of the
        # (pre-enrichment, when provided) batch — Catalyst prunes the scan
        # to the probe's columns, so this pass is much cheaper than
        # materializing the full batch. The buckets pick the target files
        # to rewrite and the counts size the adaptive write salt below; a
        # MoR delta write needs neither, so it runs no probe at all.
        t_probe = time.time()
        if not mor_delta and probe is None:
            probe = self.probe_batch(
                probe_src if probe_src is not None else src, lsn_col
            )
        t_probe = time.time() - t_probe
        if not mor_delta and not probe:
            commit = self._commit(prev, None, schema_name, lambda _p, _f: {
                "epoch_id": epoch_id,
                "schema_version": version,
                "buckets": prev["buckets"] if prev else {},
                "watermarks": prev.get("watermarks", {}) if prev else {},
                "metrics": MergeMetrics(epoch_id=epoch_id).as_dict(),
            }, side_write)
            return MergeMetrics(**commit["metrics"])

        # The target buckets the merge reads and rewrites whole: a CoW
        # merge's touched buckets, or the buckets a delta write folds — those
        # whose non-empty chain this epoch would bring to ``max_deltas``
        # (taken from the manifest, so the delta write still runs no probe;
        # an untouched one folds too, so no chain ever reaches the bound).
        if not mor_delta:
            tgt = [str(b) for b in sorted(probe)] if prev else []
        elif max_deltas is None:
            tgt = []
        else:
            tgt = [
                b for b, ptr in sorted(prev["buckets"].items())
                if len(ptr.get("deltas", [])) >= max(1, max_deltas - 1)
            ]

        # ADAPTIVE write salting: a mega-conversation concentrates in one
        # bucket; a one-task-per-bucket layout would serialize it and cap
        # scaling at any core count (SURVEY §4.2 #1). Hash-salting on the
        # full key splits a hot bucket across tasks/files — but a FIXED salt
        # multiplies the file count of every cold bucket too (at 4096
        # buckets × salt 8 that is 32k files per epoch, most of them tiny).
        # Instead each bucket gets its own salt sized from the rows it will
        # write, ROWS_PER_WRITE_TASK per task: the target rows recorded per
        # part in the manifest at write time (the Iceberg manifest
        # row-count analogue; absent on pre-upgrade manifests ⇒ 0), plus,
        # for a merge that probes, the batch's per-bucket counts (probe
        # job, already paid). Layout stays deterministic (salt counts are a
        # function of probe + manifest, content-hash partitioning), and
        # readers are layout-agnostic (they list the bucket directory).
        def manifest_rows(b) -> int:
            ptr = prev["buckets"].get(str(b)) if prev else None
            return sum(int(part.get("rows", 0)) for part in self._ptr_parts(ptr)) if ptr else 0

        def fanout(n: int) -> int:
            return min(MAX_WRITE_SALT, max(1, -(-n // ROWS_PER_WRITE_TASK)))

        if mor_delta:
            # No probe, so no touched buckets or batch counts: only buckets
            # the manifest already sizes past one task get a salt (a hot
            # conversation's bucket has grown), every other row gets a null
            # one. No partition count either: AQE coalesces the exchange to
            # the epoch's size, and a (bucket, salt) group never spans two
            # tasks — so a cold bucket is ONE file however large the epoch,
            # a hot bucket at most its salt's worth.
            salts = {
                int(b): f for b in prev["buckets"] if (f := fanout(manifest_rows(b))) > 1
            }
            n_parts = []
        else:
            salts = {b: fanout(n + manifest_rows(b)) for b, (_m, n) in probe.items()}
            n_parts = [self._write_tasks(list(salts.values()))]

        full = _full_schema(schema)
        by_schema: dict[str, list[str]] = {}
        for b in tgt:
            ptr = prev["buckets"].get(b)
            if ptr:
                # every part: base + any merge-on-read deltas — the LWW
                # resolution below folds them into the batch and the
                # rewrite retires the bucket's delta pointers
                for part in self._ptr_parts(ptr):
                    by_schema.setdefault(part["schema"], []).append(
                        os.path.join(self.root, part["path"])
                    )

        def side(df: DataFrame, have: T.StructType, lsn_op: tuple[str, str] | None) -> DataFrame:
            # one select per side: the cast projection, _b, _src and, when
            # the salt map is small enough to inline, _salt
            cols, bucket, keys, no_salt = self._merge_input(
                have, full if lsn_op is None else schema, n, lsn_op
            )
            salt = no_salt if not salts else self._salt_col(salts, bucket, keys)
            return df.select(*cols, *([salt] if salt is not None else []))

        # the batch, null-lsn rows dropped (no watermark can cover them) ...
        has_lsn = self._cached(("has-lsn",), lambda: F.col(META_LSN).isNotNull())
        merged = side(src, src_schema, (lsn_col, op_col)).where(has_lsn)
        for sname, paths in by_schema.items():
            # ... and the target file sets, each read with its explicit
            # schema: the merge's target read otherwise pays a footer
            # schema-inference pass per epoch (driver-side, scales with
            # touched buckets × salt files — pure fixed cost)
            have = self._file_schema(sname)
            merged = merged.unionByName(
                side(self.spark.read.schema(have).parquet(*paths), have, None)
            )

        # LWW resolution — the same total order (lww_payload_order, shared
        # with the MoR read fold so staged folds agree with single-pass
        # merges) executed by one of two physical strategies; see the module
        # docstring for the full trade-off.
        x = self._merge_exprs(schema, mor_delta, lww)
        if lww == "window":
            # One shuffle, straight into the write layout: hash partitioning
            # on (bucket, salt) clusters every key (both are functions of
            # the key columns), which satisfies the window's required
            # distribution over (bucket, *key, salt) — Spark adds only the
            # in-partition sort, no second exchange, and the parquet write
            # below inherits the layout unchanged. row_number()==1 over the
            # LWW order descending is argmax(order), i.e. exactly the
            # max_by winner; the flag aggregates ride the same sorted frame.
            if len(salts) > SALT_MAP_LITERAL_MAX:
                merged = self._join_salt(merged, salts)
            out = (
                merged.repartition(*n_parts, *x["layout"])
                .select(*x["window"])
                .where(x["winner"])
            )
        else:
            # max_by(payload, order) partial+final aggregation: map-side
            # combine folds per-key duplicate storms before the shuffle
            # (then the write lays the result out, below).
            out = merged.groupBy(*x["group"]).agg(*x["agg"]).select(*x["agg_out"])

        obs = Observation(f"merge-{epoch_id}")
        # MoR: target unread → conflict classification impossible at write
        # time; observe only the rows written — a folded bucket's whole
        # rewrite included, as a CoW merge counts its touched buckets
        # (metrics report -1). The final select drops the flags, _rn and
        # _salt.
        out = out.observe(obs, *x["observe"]).select(*x["final"])

        t_write = time.time()
        if lww == "agg":
            # the agg output is distributed by the grouping hash; lay it out
            # for the write, sorted on the key (the window strategy already
            # produced exactly this layout — T3 stable in-partition order —
            # so it writes as-is with no exchange)
            salt = self._salt_col(salts, F.col(BUCKET_COL), [F.col(k) for k in self.key_cols])
            out = out.select("*", salt) if salt is not None else self._join_salt(out, salts)
            out = (
                out.repartition(*n_parts, *x["layout"])
                .sortWithinPartitions(BUCKET_COL, *self.key_cols)
                .drop("_salt")
            )

        def manifest(parts: dict, footers: dict) -> dict:
            # parts/footers: the buckets this merge wrote, with each one's
            # rows and _lsn maximum, from the written footers
            if mor_delta:
                batch_max = {b: hi for b, (_n, hi) in footers.items()}
            else:
                # Probe-contract guard: every bucket this merge actually
                # wrote must have been probe-touched. A caller-supplied
                # ``probe`` that misses a written bucket (stale prefetch,
                # probe over different rows, a non-deterministic source
                # re-evaluated between probe and merge) would otherwise
                # silently replace that bucket's pointer with a batch-only
                # fold — permanently dropping its existing rows. Abort
                # BEFORE _publish: the orphaned data dir is retired by
                # expire_snapshots, the table is untouched.
                unprobed = set(parts) - {int(b) for b in probe}
                if unprobed:
                    raise RuntimeError(
                        f"merge wrote buckets {sorted(unprobed)} the probe never "
                        "touched — the probe must come from probe_batch over the "
                        "exact post-filter rows of a deterministic source "
                        "(epoch not committed)"
                    )
                batch_max = {b: src_max for b, (src_max, _n) in probe.items()}
            # per-bucket LSN watermarks for lineage/resume metrics: a touched
            # bucket's new watermark is max(previous watermark, batch maximum)
            watermarks = dict(prev.get("watermarks", {})) if prev else {}
            for b, hi in batch_max.items():
                cur = watermarks.get(str(b))
                watermarks[str(b)] = max(int(hi), int(cur)) if cur is not None else int(hi)

            buckets = dict(prev["buckets"]) if prev else {}
            folded = set(parts) & {int(b) for b in tgt} if mor_delta else set()
            for b, part in parts.items():
                if mor_delta and str(b) in buckets and b not in folded:
                    # append a delta file set; the base pointer (and any
                    # earlier deltas) stay — readers fold, a later fold or
                    # compact() retires them
                    ptr = dict(buckets[str(b)])
                    ptr["deltas"] = list(ptr.get("deltas", [])) + [part]
                    buckets[str(b)] = ptr
                else:
                    # a rewrite of a read bucket, or first data for this
                    # bucket (a fold of the batch alone IS the merged state
                    # when there is no base)
                    buckets[str(b)] = part

            m = obs.get
            metrics = MergeMetrics(
                epoch_id=epoch_id,
                mode=mode,
                rows_in_batch=sum(c for _m, c in probe.values()) if not mor_delta else -1,
                keys_in_batch=int(m["keys_in_batch"] or 0) if not mor_delta else -1,
                rows_applied=int(m["rows_applied"]),
                updated=int(m["updated"] or 0) if not mor_delta else -1,
                inserted=int(m["inserted"] or 0) if not mor_delta else -1,
                deleted=int(m["deleted"] or 0) if not mor_delta else -1,
                stale=int(m["stale"] or 0) if not mor_delta else -1,
                buckets_touched=len(parts),
                buckets_folded=len(folded),
                lsn_watermarks={str(b): watermarks[str(b)] for b in parts},
                wall_sec=time.time() - t0,
                probe_sec=round(t_probe, 3),
                write_sec=round(time.time() - t_write, 3),
            )
            return {
                "epoch_id": epoch_id,
                "schema_version": version,
                "buckets": buckets,
                "watermarks": watermarks,
                "metrics": metrics.as_dict(),
            }

        commit = self._commit(prev, out, schema_name, manifest, side_write)
        return MergeMetrics(**commit["metrics"])
