"""Round-4 hardening regressions:

* binary_sanity_cols / codec.header_dims only trust the fixed JFIF SOF0
  dim offsets when the SOF0 marker is actually there — a wild JFIF
  (extra APP1/COM segments) must yield NULL dims, never a misread;
* reconcile_kept and completed_buckets treat ONLY "nothing committed"
  (missing directory, or a directory holding just a crashed commit's
  _temporary/ tree) as a first run: any other failure reading the kept
  or audit table raises instead of silently re-appending everything;
* free_local_checkpoint refuses derived frames with a clear TypeError
  instead of an opaque Py4JError, and honors the blocking flag.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from metacheck_spark.fixtures import codec
from metacheck_spark.pipeline import (
    binary_sanity_cols,
    completed_buckets,
    reconcile_kept,
)


def _wild_jfif() -> bytes:
    """A stream that passes the JFIF APP0 sniff but has a different
    segment layout (as if APP1/COM segments preceded SOF0): the bytes at
    the encoder's fixed SOF0 offset are arbitrary payload, not FF C0."""
    b = bytearray(b"\xff\xd8\xff\xe0" + b"\x00\x10" + b"JFIF\x00")
    b += bytes(300)  # zero padding where the fixed offsets would look
    return bytes(b)


def _real_jfif() -> bytes:
    import numpy as np

    from metacheck_spark.fixtures import jfif

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    return jfif.jfif_encode(img, quality=95)


def test_header_dims_refuses_wild_jfif_layout():
    wild = _wild_jfif()
    assert codec.sniff_format(wild) == "jpeg"
    assert codec.header_dims(wild) is None  # unknown, not garbage
    real = _real_jfif()
    assert codec.header_dims(real) == (24, 16)


def test_binary_sanity_refuses_wild_jfif_layout(spark):
    rows = [Row(id=1, bytes=_wild_jfif()), Row(id=2, bytes=_real_jfif())]
    cols = binary_sanity_cols("bytes")
    got = {
        r["id"]: (r["magic_fmt"], r["hdr_w"], r["hdr_h"])
        for r in spark.createDataFrame(rows)
        .select("id", *[c.alias(n) for n, c in cols.items()])
        .collect()
    }
    assert got[1] == ("jpeg", None, None)
    assert got[2] == ("jpeg", 24, 16)


def _write_audit(spark, path: str) -> None:
    spark.createDataFrame(
        [
            Row(
                image_id=f"img{i}",
                lang="en",
                scrubbed_caption=f"cap {i}",
                phash=i * 7,
                keep=True,
            )
            for i in range(6)
        ]
    ).write.mode("overwrite").parquet(path)


def test_reconcile_kept_first_run_and_idempotent(spark, tmp_path):
    audit = str(tmp_path / "audit")
    kept = str(tmp_path / "kept")
    _write_audit(spark, audit)
    assert reconcile_kept(spark, audit, kept, salt=2) == 6  # first run
    assert reconcile_kept(spark, audit, kept, salt=2) == 0  # converged
    assert spark.read.parquet(kept).count() == 6


def test_reconcile_kept_raises_on_unreadable_kept_table(spark, tmp_path):
    """A corrupt kept table must RAISE, not be mistaken for first-run:
    appending everything again would duplicate the whole kept output."""
    audit = str(tmp_path / "audit")
    kept = tmp_path / "kept"
    _write_audit(spark, audit)
    kept.mkdir()
    (kept / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        reconcile_kept(spark, audit, str(kept), salt=2)
    # and nothing was appended by the failed call
    assert "PATH_NOT_FOUND" not in str(ei.value)
    assert not list(kept.glob("lang=*"))


def _temporary_only(path) -> str:
    """What a crash during a table's first commit leaves behind: only the
    committer's _temporary/ staging tree, holding a half-written file."""
    attempt = path / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.parquet").write_bytes(b"PAR1 truncated")
    return str(path)


def test_reconcile_kept_backfills_temporary_only_kept_table(spark, tmp_path):
    """A kept table whose first commit crashed holds no committed rows:
    reconcile must back-fill every keep=true audit row, not raise."""
    audit = str(tmp_path / "audit")
    _write_audit(spark, audit)
    kept = _temporary_only(tmp_path / "kept")
    assert reconcile_kept(spark, audit, kept, salt=2) == 6
    assert spark.read.parquet(kept).count() == 6


def test_completed_buckets_temporary_only_audit_is_empty(spark, tmp_path):
    assert completed_buckets(spark, _temporary_only(tmp_path / "audit")) == []


def test_completed_buckets_raises_on_corrupt_audit(spark, tmp_path):
    """A corrupt audit table must RAISE, not read as "nothing committed":
    write_audit appends, so the rerun would re-process and re-append
    every bucket already committed."""
    bucket = tmp_path / "audit" / "bucket=0"
    bucket.mkdir(parents=True)
    (bucket / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        completed_buckets(spark, str(tmp_path / "audit"))
    assert "PATH_NOT_FOUND" not in str(ei.value)
    assert "UNABLE_TO_INFER_SCHEMA" not in str(ei.value)


def test_free_local_checkpoint_guards_derived_frames(spark):
    from metacheck_spark.caching import free_local_checkpoint

    df = spark.range(10).localCheckpoint(eager=True)
    derived = df.select((F.col("id") * 2).alias("x"))
    with pytest.raises(TypeError, match="LogicalRDD"):
        free_local_checkpoint(derived)
    free_local_checkpoint(df, blocking=True)  # the real thing still works
