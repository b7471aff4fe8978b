"""Shared state helpers for the incremental maintainers — the CDC
matview sync (``streaming/matview.py``) and the SCD2 history sync
(``sources/txntable.py``) — extracted r13 (review: four near-identical
copies of sidecar/bucket/key-equality machinery had grown across the
two maintainers, so a fix to one silently missed the other).

The sidecar is one JSON file recording ``{"version", "n_buckets"}``:

- ``version``: the last FULLY committed sync (written after the bucket
  overwrites — a crash before the stamp replays the range, and the
  per-bucket ``__last_batch`` watermarks make the replay idempotent);
- ``n_buckets``: the bucket modulus the artifact was BUILT with. A
  catch-up call passing a different value would hash a key's new rows
  into a different ``__bucket=`` partition than its existing rows —
  the old open row never gets fed back / retired and the artifact is
  silently, permanently corrupted (review r13). ``check_n_buckets``
  turns that into a loud error.

A missing sidecar means a fresh artifact; a sidecar in any other
shape raises, because reading it as fresh would silently replay the
whole sync and accept any modulus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read_sync_sidecar(
    path: str, name: str = "_SYNCED_VERSION"
) -> tuple[int, int | None]:
    """(version, n_buckets) from the sidecar; ``(-1, None)`` when it
    is absent. Anything but ``{"version", "n_buckets"}`` JSON raises
    ``ValueError`` naming the file."""
    fp = os.path.join(path, name)
    try:
        with open(fp) as f:
            raw = f.read()
    except FileNotFoundError:
        return -1, None
    try:
        d = json.loads(raw)
        return int(d["version"]), int(d["n_buckets"])
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"sync sidecar {fp} is not {{version, n_buckets}} JSON: "
            f"{raw[:80]!r}"
        ) from e


def write_sync_sidecar(
    path: str, version: int, n_buckets: int, name: str = "_SYNCED_VERSION"
) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"{name}.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": int(version), "n_buckets": int(n_buckets)}, f)
    os.replace(tmp, os.path.join(path, name))


def check_n_buckets(stamped: int | None, requested: int, what: str) -> None:
    """Refuse a maintainer call whose bucket modulus differs from the
    artifact's recorded one — a mixed-modulus layout corrupts silently.
    ``stamped=None`` (fresh artifact) accepts and adopts the caller's
    value on the next stamp."""
    if stamped is not None and int(stamped) != int(requested):
        raise ValueError(
            f"{what} was built with n_buckets={stamped} but this call "
            f"passed n_buckets={requested} — a mixed-modulus bucket "
            "layout would scatter a key's rows across two partitions "
            "and corrupt the artifact silently; pass the original "
            "value (or delete the artifact to rebuild under the new "
            "modulus)"
        )


def with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    """The maintainers' shared group-key hash bucketing."""
    return df.withColumn(
        "__bucket",
        F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
        ).cast("int"),
    )


def null_safe_key_eq(left: DataFrame, right: DataFrame, keys: list[str]):
    """NULL-SAFE key conjunction: a NULL key is a real group/key in
    the artifact, and a plain equi-join would silently never refresh
    or retire it."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond
