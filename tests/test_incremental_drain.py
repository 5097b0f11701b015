"""Available-Now drain pins that run in the default test tier: exactly-once
file bookkeeping across restarts, per-batch merges that upsert rather than
append, and the zero-row batch that ends every drain being skipped. The
slower streaming cases stay in test_streaming_incremental.py."""

from __future__ import annotations

import json
import os

from event_data_etl_gcs_spark.streaming import incremental
from event_data_etl_gcs_spark.streaming.incremental import run_incremental_available_now

from .test_sparkify_pipeline import MS, T0, _log_row


def _write_file(d, name, rows):
    (d / name).write_text("\n".join(json.dumps(r) for r in rows))


def test_available_now_incremental(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", level="free"),
            _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
            _log_row(ts=T0, userId="u2", page="Home"),  # filtered
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)
    users1 = spark.read.parquet(f"{out}/users")
    assert users1.count() == 1  # u1 latest within the batch
    assert users1.collect()[0].level == "paid"
    time1 = spark.read.parquet(f"{out}/time").count()
    assert time1 == 2

    # Second run: one NEW file (plus an exact duplicate event of f1 that
    # the watermarked dropDuplicates must swallow within the run).
    _write_file(
        raw, "f2.json",
        [
            _log_row(ts=T0 + 120 * MS, userId="u3", level="free", itemInSession=2),
            _log_row(ts=T0 + 120 * MS, userId="u3", level="free", itemInSession=2),
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)
    users2 = spark.read.parquet(f"{out}/users")
    # f1 NOT reprocessed (checkpoint): still one u1 row, plus one u3 row
    assert users2.count() == 2
    assert {r.user_id for r in users2.collect()} == {"u1", "u3"}
    # duplicate event deduped -> exactly one new time row
    assert spark.read.parquet(f"{out}/time").count() == 3


def test_same_user_across_runs_upserts_not_appends(spark, tmp_path):
    """A user appearing in two separate runs must end with ONE row
    carrying the newest state (per-batch merge into the table), not a
    stale row beside a fresh one; a time row sharing its truncated
    second across runs must not duplicate."""
    raw = tmp_path / "raw3"
    raw.mkdir()
    out = str(tmp_path / "wh3")
    ckpt = str(tmp_path / "ckpt3")

    _write_file(raw, "f1.json", [_log_row(ts=T0, userId="u1", level="free")])
    run_incremental_available_now(spark, str(raw), out, ckpt)

    # run 2: same user upgraded, same truncated second as an f1 event
    _write_file(
        raw, "f2.json",
        [
            _log_row(ts=T0 + 500, userId="u1", level="paid", itemInSession=1),
            # same second as f1's event (ts differs by <1s) -> same time row
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt)

    users = spark.read.parquet(f"{out}/users").collect()
    assert len(users) == 1, users  # no stale 'free' row beside 'paid'
    assert users[0].level == "paid"
    # both events truncate to the same second -> exactly one time row
    assert spark.read.parquet(f"{out}/time").count() == 1


def test_drain_skips_the_empty_batch(spark, tmp_path, monkeypatch):
    """A drain ends with a zero-row watermark batch. Merging it would
    rewrite users and time for nothing, so a one-file drain writes each
    table once; the skipped batch still commits its dedup state, so a
    later drain on the same checkpoint succeeds."""
    written = []
    write = incremental.write_parquet_table

    def counting_write(df, path, *args, **kwargs):
        written.append(os.path.basename(path))
        return write(df, path, *args, **kwargs)

    monkeypatch.setattr(incremental, "write_parquet_table", counting_write)
    raw = tmp_path / "raw"
    raw.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")

    _write_file(raw, "f1.json", [_log_row(ts=T0, userId="u1")])
    run_incremental_available_now(spark, str(raw), out, ckpt)
    assert sorted(written) == ["time", "users"]

    _write_file(raw, "f2.json", [_log_row(ts=T0 + 60 * MS, userId="u2")])
    run_incremental_available_now(spark, str(raw), out, ckpt)
    users = spark.read.parquet(f"{out}/users").collect()
    assert {r.user_id for r in users} == {"u1", "u2"}
