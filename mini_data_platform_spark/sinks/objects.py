"""Object-store helpers (SURVEY.md §2.4 K4-K6): move (copy+delete — S3 has
no rename), upload, bucket bootstrap.

Local-path implementations are first-class (the test/CI surface and the
semantics contract); S3 implementations activate when boto3 is importable
(reference minio_client.py:96-108 parity). Moves are file-granularity
side effects that the pipeline runner performs AFTER the sink commit —
never inside a Spark task, so task retries can't double-move files.
"""

from __future__ import annotations

import os
import shutil

try:  # boto3 is optional — local mode never needs it
    import boto3  # type: ignore[import-not-found]
except Exception:  # noqa: BLE001
    boto3 = None


def is_s3_uri(path: str) -> bool:
    return path.startswith(("s3://", "s3a://"))


def _split_s3(uri: str) -> tuple[str, str]:
    rest = uri.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


def move_object(src: str, dst: str) -> None:
    """Copy+delete move, creating destination prefixes. Same-scheme only."""
    if is_s3_uri(src) or is_s3_uri(dst):
        if boto3 is None:
            raise RuntimeError("boto3 not available for s3 object moves")
        s3 = boto3.client("s3")
        sb, sk = _split_s3(src)
        db, dk = _split_s3(dst)
        s3.copy_object(Bucket=db, Key=dk, CopySource={"Bucket": sb, "Key": sk})
        s3.delete_object(Bucket=sb, Key=sk)
        return
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    # local fast path: an atomic same-filesystem rename is the move
    # semantics S3's copy+delete emulates, at ~1/10 the syscall cost —
    # at 10k files the copy+delete loop is seconds of pure driver wall
    # (INGEST_SCALE r15). Cross-device renames fall back to copy+delete.
    try:
        os.rename(src, dst)
        return
    except OSError:
        pass
    shutil.copy2(src, dst)
    os.remove(src)


def list_objects(prefix: str) -> list[str]:
    """Paginated listing under a prefix (reference minio_client.py:45-65
    S6); sorted for deterministic cross-file precedence. Local directories
    list via glob; S3 via paginated list_objects_v2."""
    if is_s3_uri(prefix):
        if boto3 is None:
            raise RuntimeError("boto3 not available for s3 listings")
        bucket, key_prefix = _split_s3(prefix)
        out: list[str] = []
        paginator = boto3.client("s3").get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=key_prefix):
            out.extend(f"s3://{bucket}/{o['Key']}" for o in page.get("Contents", []))
        return sorted(out)
    import glob

    return sorted(
        p for p in glob.glob(os.path.join(prefix, "*")) if os.path.isfile(p)
    )
