"""The shared file listing every file-based source (WARC, mbox, office,
zip and tar shards) reads through: one ``path`` row per matching file,
one partition per file."""

from __future__ import annotations

from ocr_platform_spark import emltext
from ocr_platform_spark.sources.common import list_files
from ocr_platform_spark.sources.mbox import read_mbox


def _mbox(i: int) -> bytes:
    return emltext.encode_mbox([emltext.encode_eml(
        [("From", "a@x.test"), ("Subject", f"m{i}"),
         ("Message-ID", f"<m{i}@x.test>"), ("Date", "d")],
        body=f"body {i}")])


def test_listing_is_one_partition_per_file(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"a{i}.mbox").write_bytes(b"x")
    (tmp_path / "skip.txt").write_bytes(b"x")
    listing = list_files(spark, str(tmp_path), "*.mbox*")
    assert listing.columns == ["path"]
    assert listing.rdd.getNumPartitions() == 3
    assert sorted(r.path.rsplit("/", 1)[1] for r in listing.collect()) == \
        ["a0.mbox", "a1.mbox", "a2.mbox"]


def test_listing_applies_the_path_regex(spark, tmp_path):
    for i in range(2):
        (tmp_path / f"s{i}.tar").write_bytes(b"x")
    (tmp_path / "s.tarball").write_bytes(b"x")  # glob hit, regex miss
    listing = list_files(spark, str(tmp_path), "*.t*", r"\.tar$")
    assert listing.rdd.getNumPartitions() == 2
    assert listing.count() == 2


def test_empty_listing_is_one_partition(spark, tmp_path):
    (tmp_path / "a.txt").write_bytes(b"x")
    listing = list_files(spark, str(tmp_path), "*.warc*")
    assert listing.rdd.getNumPartitions() == 1
    assert listing.count() == 0


def test_source_reads_one_file_per_task(spark, tmp_path):
    n = 5
    for i in range(n):
        (tmp_path / f"a{i}.mbox").write_bytes(_mbox(i))
    records = read_mbox(spark, str(tmp_path))
    assert records.rdd.getNumPartitions() == n
    assert records.count() == n
