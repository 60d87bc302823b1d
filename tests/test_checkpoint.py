"""Resume-from-checkpoint equivalence (SURVEY.md §5.3 property tests):
kill after K buckets → resume → identical output, committed buckets not
reprocessed."""

import json

import pytest

from pdf_extractors_spark import checkpoint, pipeline


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["records"])
        for r in df.collect()
    )


def test_resume_skips_committed_and_matches_oneshot(spark, small_transcripts, tmp_path):
    out_resume = str(tmp_path / "resume")
    out_oneshot = str(tmp_path / "oneshot")

    # one-shot reference run
    checkpoint.run_with_checkpoint(spark, small_transcripts, out_oneshot, n_buckets=6)

    # killed run: fails after 2 bucket commits
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out_resume, n_buckets=6, fail_after=2
        )
    assert len(checkpoint.committed_buckets(out_resume)) == 2

    # resume: must not reprocess the 2 committed buckets
    result = checkpoint.run_with_checkpoint(
        spark, small_transcripts, out_resume, n_buckets=6
    )
    assert len(result["skipped"]) == 2
    assert len(result["processed"]) == 4
    assert set(result["skipped"]).isdisjoint(result["processed"])

    # identical extracted content
    assert _rows(checkpoint.read_extracted(spark, out_resume)) == _rows(
        checkpoint.read_extracted(spark, out_oneshot)
    )


def test_manifest_lineage_metrics(spark, small_transcripts, tmp_path):
    out = str(tmp_path / "m")
    checkpoint.run_with_checkpoint(
        spark, small_transcripts, out, n_buckets=4, input_snapshot_id="snap-1"
    )
    ms = checkpoint.committed_buckets(out)
    assert set(ms) == {0, 1, 2, 3}
    for m in ms.values():
        assert m["status"] == "committed"
        assert m["bytes"] > 0
        assert m["input_snapshot_id"] == "snap-1"
        assert m["committed_at"] >= m["started_at"]
    agg = checkpoint.metrics(out)
    assert agg["rows"] == small_transcripts.count()
    assert agg["parse_errors"] == 0


def test_interrupted_bucket_leaves_no_manifest(spark, small_transcripts, tmp_path):
    # write-then-manifest: a manifest implies its data is complete
    out = str(tmp_path / "wtm")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=1
        )
    ms = checkpoint.committed_buckets(out)
    assert len(ms) == 1
    k, m = next(iter(ms.items()))
    got = spark.read.parquet(str(tmp_path / "wtm" / f"bucket={k}")).count()
    assert got == m["rows"]


def test_resume_rejects_bucket_count_change(spark, small_transcripts, tmp_path):
    """Resuming with a different n_buckets would re-map the hash space and
    silently duplicate rows across old and new buckets — must raise."""
    out = str(tmp_path / "nb")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=2
        )
    with pytest.raises(ValueError, match="n_buckets"):
        checkpoint.run_with_checkpoint(spark, small_transcripts, out, n_buckets=12)


def test_resume_rejects_snapshot_change(spark, small_transcripts, tmp_path):
    """Resuming over a different input snapshot would mix datasets in one
    output — must raise when both snapshot ids are known."""
    out = str(tmp_path / "snap")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=2,
            input_snapshot_id="snapA",
        )
    with pytest.raises(ValueError, match="snapshot"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, input_snapshot_id="snapB"
        )
    # same snapshot resumes fine
    res = checkpoint.run_with_checkpoint(
        spark, small_transcripts, out, n_buckets=6, input_snapshot_id="snapA"
    )
    assert len(res["skipped"]) == 2


def test_read_extracted_hides_uncommitted_buckets(spark, small_transcripts, tmp_path):
    """Data written by a crashed run that never reached its manifest must
    be invisible to readers (write-then-manifest protocol)."""
    import os
    import shutil

    out = str(tmp_path / "uncommitted")
    checkpoint.run_with_checkpoint(spark, small_transcripts, out, n_buckets=4)
    committed_rows = checkpoint.read_extracted(spark, out).count()
    assert committed_rows == small_transcripts.count()
    # simulate a crash: bucket data present, manifest missing
    os.remove(os.path.join(out, checkpoint.MANIFEST_DIR, "2.json"))
    visible = checkpoint.read_extracted(spark, out).count()
    bucket2 = spark.read.parquet(os.path.join(out, "bucket=2")).count()
    assert visible == committed_rows - bucket2
    assert checkpoint.metrics(out)["buckets"] == 3
    # and a remote URI is refused rather than silently not checkpointing
    with pytest.raises(NotImplementedError, match="Iceberg"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, "s3://bucket/out", n_buckets=4
        )
    shutil.rmtree(out)


def test_file_uri_output_commits_real_manifests(
    spark, small_transcripts, tmp_path, monkeypatch
):
    """A ``file://`` output URI names the same local directory as the bare
    path: manifests, metrics and reads must see the written buckets, and
    nothing may land under a literal ``file:`` directory in the cwd."""
    import os

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    uri = (tmp_path / "out").as_uri()
    assert uri.startswith("file:///")
    n = small_transcripts.count()
    res = checkpoint.run_with_checkpoint(spark, small_transcripts, uri, n_buckets=4)
    assert res["processed"] == [0, 1, 2, 3]
    assert checkpoint.metrics(uri)["rows"] == n
    assert checkpoint.read_extracted(spark, uri).count() == n
    assert os.listdir(cwd) == []
    # the resume sees the commits instead of an empty manifest dir
    again = checkpoint.run_with_checkpoint(spark, small_transcripts, uri, n_buckets=4)
    assert again == {"processed": [], "skipped": [0, 1, 2, 3]}
