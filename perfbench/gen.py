"""Input generator for the CDC benchmark.

Two steps, both before any timed process and neither part of a measured
set-up:

``base``    Spark, once per checkout and workload: stage the change stream
            of ``fixtures.change_events`` (fixed fixture seed) as the pool
            every run draws from. Most of its cost is JVM start and the
            fixture's plan building, so it is paid once and cached.
``derive``  numpy/pyarrow, once per (workload, seed), no JVM: draw the
            run's input from the pool. The seed picks which conversations
            take part (the mega-conversation always does), which rows are
            made malformed (~2 %), and so where the tail's epochs and
            snapshot cutover fall. The derived directory is cached and
            published by one rename, never overwritten.

    python3 perfbench/gen.py base   --workload W --out BASE --scratch DIR
    python3 perfbench/gen.py derive --workload W --base BASE --seed N --out DIR

A derived directory holds, each parquet set one file per epoch:

bulk_replay
    ``events/``  the backlog the engine replays, malformed rows included.
    ``warmup/``  a small stream of the same shape for the untimed warm-up.
trickle_stream
    ``snapshot/``  live state at the cutover LSN, loaded by ``bootstrap``.
    ``tail/``      one Debezium JSON envelope per row (``value``); a
                   malformed row is a truncated envelope.
both
    ``typed/``     the clean typed rows plus ``_bad`` (made malformed):
                   the correctness oracle's input, never shown to the engine.
``manifest.json`` records sizes, the cutover, the injected counts and the
input fingerprint (rows, sha256 of every staged byte).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

# pool sizes (fixture conversations; see perfbench/README.md "Sizing")
BULK_CONVERSATIONS = 700
BULK_EPOCHS = 4
WARMUP_CONVERSATIONS = 40
TRICKLE_CONVERSATIONS = 1000
FIXTURE_SEED = 42
# share of the pool's conversations a seed draws (the mega-conversation,
# conversation 0, is always drawn)
DRAW_PERCENT = 70
# trickle tail: epochs of TAIL_EPOCH_LSNS distinct LSNs. The tail starts
# TAIL_OVERLAP LSNs before the cutover, half-way into its first epoch (a
# snapshot handoff overlaps, and the engine's cutover filter must drop the
# overlap), and holds TAIL_INSERTS inserts above it before the update and
# delete blocks.
TAIL_EPOCH_LSNS = 650
TAIL_OVERLAP = 325
TAIL_INSERTS = 1300
TAIL_MAX_EPOCHS = 40
# one row in MALFORMED_EVERY is made malformed
MALFORMED_EVERY = 50
PAYLOAD = ("conv_id", "turn_idx", "role", "text", "tool")


# ---- base: Spark ------------------------------------------------------

def build_base(workload: str, out: str, scratch: str) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nifi_nlp_processor_spark.fixtures import (
        ChangeStreamSpec,
        change_events,
        conversation_sizes,
    )
    from nifi_nlp_processor_spark.session import build_session

    from perfbench.worker import cores, session_conf

    conf = session_conf(scratch) | {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    spark = build_session("cdc-bench-base", cores=cores(), extra_conf=conf)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)

    def spec(n_conv: int, n_epochs: int, out_of_order: bool) -> ChangeStreamSpec:
        return ChangeStreamSpec(
            n_conversations=n_conv, base_turns=60, turn_spread=40, mega_frac=0.2,
            n_epochs=n_epochs, dup_frac=0.05, delete_frac=0.10,
            out_of_order=out_of_order, seed=FIXTURE_SEED,
        )

    meta = {"workload": workload}
    if workload == "bulk_replay":
        for name, n_conv, n_epochs in (
            ("events", BULK_CONVERSATIONS, BULK_EPOCHS),
            ("warmup", WARMUP_CONVERSATIONS, 1),
        ):
            ev = change_events(spark, spec(n_conv, n_epochs, True))
            ev.coalesce(1).write.parquet(os.path.join(tmp, name))
    else:
        s = spec(TRICKLE_CONVERSATIONS, 1, False)
        _mega, total = conversation_sizes(s)
        # The fixture's LSN is block * total + uid (blocks: insert, update,
        # second update, delete), so LSN order walks conversation by
        # conversation. Re-rank uid within each block by a hash: every key
        # keeps its block order (LWW outcome unchanged) while the LSN-ordered
        # tail interleaves conversations the way a real log does.
        uid = F.pmod(F.col("lsn"), F.lit(total))
        blk = F.floor(F.col("lsn") / F.lit(total))
        rank = F.dense_rank().over(
            Window.partitionBy(blk).orderBy(F.xxhash64(uid, F.lit(FIXTURE_SEED)), uid)
        )
        ev = change_events(spark, s).drop("epoch_id")
        ev = ev.withColumn("lsn", (blk * total + rank - 1).cast("long"))
        ev.coalesce(1).write.parquet(os.path.join(tmp, "events"))
        meta["total"] = total
    spark.stop()
    with open(os.path.join(tmp, "base.json"), "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, out)


# ---- derive: numpy / pyarrow -----------------------------------------

def mix(seed: int, *cols):
    """splitmix64 over the columns and the seed: one uint64 per row."""
    import numpy as np

    h = np.full(len(cols[0]), seed, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            h = (h ^ np.asarray(c).astype(np.uint64)) + np.uint64(0x9E3779B97F4A7C15)
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(31))
    return h


def read_pool(path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark's schema metadata would outlive the columns added here
    t = pq.read_table(path).replace_schema_metadata(None)
    ts = t.column("ts").cast(pa.timestamp("us", tz="UTC"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    # a total order (rows equal on these keys are identical), so the staged
    # bytes do not depend on the row order Spark wrote the pool in
    keys = [k for k in ("epoch_id", "lsn", "op") if k in t.column_names]
    return t.sort_by([(k, "ascending") for k in keys])


def draw(t, seed: int):
    """The seed's conversations of the pool (always conversation 0)."""
    import numpy as np
    import pyarrow as pa

    conv = np.array([int(c[5:]) for c in t.column("conv_id").to_pylist()])
    keep = (conv == 0) | (mix(seed, conv, np.full(len(conv), 1)) % 100 < DRAW_PERCENT)
    return t.filter(pa.array(keep))


def malformed(t, seed: int):
    """Rows this generator makes malformed: a function of (lsn, epoch_id),
    so a re-delivered copy in the same epoch shares its original's fate."""
    import numpy as np

    lsn = t.column("lsn").to_numpy()
    epoch = t.column("epoch_id").to_numpy()
    return mix(seed, lsn, epoch, np.full(len(lsn), 2)) % MALFORMED_EVERY == 0


def corrupt(t, bad, seed: int):
    """Make the ``bad`` rows malformed three ways: null key, unknown op, or
    null text on an insert/update (a delete's text is null legally)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    kind = mix(seed, t.column("lsn").to_numpy(), np.full(t.num_rows, 3)) % 3
    is_d = pc.equal(t.column("op"), "D").to_numpy(zero_copy_only=False)
    null_key = bad & (kind == 0)
    null_text = bad & (kind == 2) & ~is_d
    bad_op = bad & ~null_key & ~null_text

    def replace(t, name, mask, value):
        col = t.column(name)
        new = pc.if_else(pa.array(mask), pa.scalar(value, col.type), col)
        return t.set_column(t.schema.get_field_index(name), name, new)

    t = replace(t, "conv_id", null_key, None)
    t = replace(t, "text", null_text, None)
    return replace(t, "op", bad_op, "X")


def write_epochs(t, path: str) -> None:
    """One file per ``epoch_id=N`` directory, the partition column dropped."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    epochs = t.column("epoch_id")
    body = t.drop_columns(["epoch_id"])
    for e in np.unique(epochs.to_numpy()):
        d = os.path.join(path, f"epoch_id={int(e)}")
        os.makedirs(d)
        pq.write_table(body.filter(pc.equal(epochs, e)), os.path.join(d, "part-0.parquet"))


def derive_bulk(base: str, out: str, seed: int) -> dict:
    import pyarrow as pa

    ev = draw(read_pool(os.path.join(base, "events")), seed)
    bad = malformed(ev, seed)
    write_epochs(corrupt(ev, bad, seed), os.path.join(out, "events"))
    write_epochs(ev.append_column("_bad", pa.array(bad)), os.path.join(out, "typed"))
    warm = read_pool(os.path.join(base, "warmup"))
    write_epochs(corrupt(warm, malformed(warm, seed), seed), os.path.join(out, "warmup"))
    return {"epochs": BULK_EPOCHS, "events": ev.num_rows, "injected": int(bad.sum())}


def envelope(row: dict) -> str:
    """One Debezium change event as a relay emits it (nulls omitted)."""
    image = {k: row[k] for k in PAYLOAD if row[k] is not None}
    env: dict = {"op": {"I": "c", "U": "u", "D": "d"}[row["op"]]}
    env["before" if row["op"] == "D" else "after"] = image
    env["source"] = {"lsn": row["lsn"], "ts_ms": row["ts_ms"]}
    return json.dumps(env, separators=(",", ":"))


def derive_trickle(base: str, out: str, seed: int, total: int) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = draw(read_pool(os.path.join(base, "events")), seed)
    lsn = ev.column("lsn").to_numpy()
    inserts = np.unique(lsn[lsn < total])
    cutover = int(inserts[-TAIL_INSERTS - 1])
    # up to the cutover there are only inserts, and a re-delivered copy is
    # identical to its original: the snapshot is the distinct inserts
    live = ev.filter(pc.less_equal(ev.column("lsn"), cutover))
    first = np.unique(live.column("lsn").to_numpy(), return_index=True)[1]
    snap = live.take(pa.array(first)).select(list(PAYLOAD) + ["ts"])
    os.makedirs(os.path.join(out, "snapshot"))
    pq.write_table(snap, os.path.join(out, "snapshot", "part-0.parquet"))

    uniq = np.unique(lsn)
    start = int(np.searchsorted(uniq, cutover)) - TAIL_OVERLAP + 1
    rank = np.searchsorted(uniq, lsn) - start
    epoch = rank // TAIL_EPOCH_LSNS
    in_tail = (rank >= 0) & (epoch < TAIL_MAX_EPOCHS)
    tail = ev.filter(pa.array(in_tail)).append_column("epoch_id", pa.array(epoch[in_tail]))
    bad = malformed(tail, seed)
    write_epochs(tail.append_column("_bad", pa.array(bad)), os.path.join(out, "typed"))
    ts_ms = pc.divide(pc.cast(tail.column("ts"), pa.int64()), 1000)
    rows = tail.append_column("ts_ms", ts_ms).to_pylist()
    values = []
    for r, b in zip(rows, bad):
        v = envelope(r)
        values.append(v[: len(v) // 2] if b else v)
    write_epochs(
        pa.table({"epoch_id": tail.column("epoch_id"), "value": pa.array(values)}),
        os.path.join(out, "tail"),
    )
    epochs = tail.column("epoch_id").to_numpy()
    n_epochs = int(epochs.max()) + 1
    return {
        "cutover_lsn": cutover,
        "snapshot_rows": snap.num_rows,
        "epochs": n_epochs,
        "events_by_epoch": {str(e): int((epochs == e).sum()) for e in range(n_epochs)},
        "injected_by_epoch": {str(e): int(bad[epochs == e].sum()) for e in range(n_epochs)},
    }


def fingerprint(d: str) -> dict:
    """Staged rows, and sha256 over every staged file's path and bytes."""
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    rows = 0
    for dirpath, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
            rows += pq.ParquetFile(p).metadata.num_rows
    return {"rows": rows, "sha256": h.hexdigest()}


def derive(workload: str, base: str, seed: int, out: str) -> None:
    with open(os.path.join(base, "base.json")) as fh:
        meta = json.load(fh)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "bulk_replay":
        manifest = derive_bulk(base, tmp, seed)
    else:
        manifest = derive_trickle(base, tmp, seed, meta["total"])
    manifest = {"workload": workload, "seed": seed} | manifest | {"input": fingerprint(tmp)}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.rename(tmp, out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("step", choices=("base", "derive"))
    ap.add_argument("--workload", required=True, choices=("bulk_replay", "trickle_stream"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--base")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--scratch")
    args = ap.parse_args()
    if args.step == "base":
        build_base(args.workload, args.out, args.scratch)
    else:
        derive(args.workload, args.base, args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
