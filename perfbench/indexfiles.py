"""Numbers read from what an index build leaves on disk: the
``_stages/<stage>.json`` markers, ``globals.json``, the manifest, the
vocabulary and the postings files. Read with pyarrow, so reading them
runs no Spark job."""

from __future__ import annotations

import json
import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

STATS_STAGES = ("vocab", "doc_stats", "globals")  # run concurrently


def stage_done_at(path: str) -> dict[str, float]:
    """Wall-clock ``completed_at`` of every stage marker."""
    out = {}
    for name in os.listdir(f"{path}/_stages"):
        if name.endswith(".json"):
            with open(f"{path}/_stages/{name}") as f:
                out[name[: -len(".json")]] = json.load(f)["completed_at"]
    return out


def stage_seconds(path: str, wall0: float | None) -> dict[str, float]:
    """Stage durations from marker offsets. ``wall0`` is the build's
    wall-clock start (None when unknown: the tf stage is left out)."""
    m = stage_done_at(path)
    stats_done = max(m[s] for s in STATS_STAGES)
    out = {
        "stats_stage_s": stats_done - m["tf"],
        "postings_stage_s": m["postings"] - stats_done,
        "manifest_stage_s": m["manifest"] - m["postings"],
    }
    if wall0 is not None:
        out["tf_stage_s"] = m["tf"] - wall0
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def postings_dataset(path: str):
    return ds.dataset(f"{path}/postings", format="parquet", partitioning="hive")


def epoch_dirs(path: str) -> int:
    """Number of postings ``(bucket, epoch)`` partition dirs."""
    return sum(
        1
        for b in os.listdir(f"{path}/postings")
        if b.startswith("bucket=")
        for e in os.listdir(f"{path}/postings/{b}")
        if e.startswith("epoch=")
    )


def build_record(path: str, wall0: float, n_docs: int, text_bytes: int) -> dict:
    """Stage times, sizes and correctness of one finished build.
    ``errors`` lists every check that failed."""
    with open(f"{path}/globals.json") as f:
        g = json.load(f)
    manifest = pq.read_table(
        f"{path}/manifest", columns=["postings_emitted", "bytes_compressed"]
    )
    emitted = manifest.column("postings_emitted").to_pylist()
    vocab_df = pq.read_table(f"{path}/{g.get('vocab_dir', 'vocab')}", columns=["df"])
    df_total = sum(vocab_df.column("df").to_pylist())
    errors = []
    if g["n_docs"] != n_docs:
        errors.append(f"build n_docs {g['n_docs']} != corpus size {n_docs}")
    if sum(emitted) != df_total:
        errors.append(f"manifest postings_emitted {sum(emitted)} != vocab df total {df_total}")
    rec = stage_seconds(path, wall0)
    rec.update(
        postings_blocks=postings_dataset(path).count_rows(),
        postings_bytes=sum(manifest.column("bytes_compressed").to_pylist()),
        index_bytes=dir_bytes(path),
        errors=errors,
    )
    return rec
