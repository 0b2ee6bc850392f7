"""Copy-job reference-parity tests (SURVEY §2a R1-R22, §5.2 item 1).

Mirrors the reference's test coverage: file/dir/nested-dir copies with
byte+MD5 equality (t/service/HdfsCopyServiceTest.java:62-164), missing
source -> PARTIALLY_FAILED rollup (t/service/CopyTaskServiceTest.java:112-139),
validation messages (t/controller/CopyControllerTest.java), throttle rate
bound (t/service/ThrottledInputStreamTest.java:63-82 generalized), empty
dir checksum=False (HdfsCopyService.java:108), buffer-boundary file sizes
(0 B / 1 B / 64 KiB / 1 MiB per HdfsCopyService.java:25).
"""

import hashlib
import os
import time

import pytest

from hadoop_copier_spark.copyjob import (
    CopyItem,
    CopyJobEngine,
    CopyRequest,
    ValidationError,
    _speed,
    _stripe,
)


def _md5(path):
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(65536), b""):
            h.update(chunk)
    return h.hexdigest()


@pytest.fixture()
def tree(tmp_path):
    """Generated source tree: nested >=3 deep, buffer-boundary file sizes,
    plus an empty directory (FIXTURES.md fixture 1)."""
    src = tmp_path / "src"
    files = {
        "zero.bin": b"",
        "one.bin": b"x",
        "buf.bin": os.urandom(64 * 1024),
        "big.bin": os.urandom(1024 * 1024 + 17),
        "a/nested.txt": b"hello nested",
        "a/b/c/deep.txt": b"deep" * 1000,
    }
    for rel, data in files.items():
        p = src / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    (src / "empty_dir").mkdir()
    return src, files


def test_copy_directory_tree_bytes_and_md5(spark, tree, tmp_path):
    src, files = tree
    dst = tmp_path / "dst"
    eng = CopyJobEngine(spark)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    item = st["items"][0]
    assert item["status"] == "COMPLETED"
    assert item["checksumVerified"] is True
    assert item["bytesCopied"] == sum(len(d) for d in files.values())
    for rel in files:
        assert _md5(src / rel) == _md5(dst / rel)


def test_copy_single_file(spark, tree, tmp_path):
    src, files = tree
    dst_file = tmp_path / "out" / "single.bin"
    eng = CopyJobEngine(spark)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src / "big.bin"), str(dst_file))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert _md5(src / "big.bin") == _md5(dst_file)
    assert st["items"][0]["speed"].endswith("MB/s")


def test_missing_source_partially_failed(spark, tree, tmp_path):
    src, _ = tree
    eng = CopyJobEngine(spark)
    rid = eng.submit(
        CopyRequest(
            "local",
            [
                CopyItem(str(src / "one.bin"), str(tmp_path / "ok.bin")),
                CopyItem(str(src / "does_not_exist"), str(tmp_path / "nope")),
            ],
        )
    )
    st = eng.status(rid)
    assert st["status"] == "PARTIALLY_FAILED"
    by_status = {i["status"]: i for i in st["items"]}
    assert by_status["FAILED"]["errorMessage"].startswith("Source path does not exist")
    assert by_status["FAILED"]["speed"] == "N/A"
    assert by_status["COMPLETED"]["checksumVerified"] is True


def test_all_missing_failed(spark, tmp_path):
    eng = CopyJobEngine(spark)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(tmp_path / "ghost"), str(tmp_path / "g"))]))
    assert eng.status(rid)["status"] == "FAILED"


def test_empty_dir_checksum_false(spark, tree, tmp_path):
    src, _ = tree
    eng = CopyJobEngine(spark)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src / "empty_dir"), str(tmp_path / "ed"))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is False
    assert st["items"][0]["bytesCopied"] == 0


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_nested_empty_directories_recreated(spark, tree, tmp_path, scheme):
    """Every empty subdirectory, however deep and whether or not a sibling
    holds files, exists at the destination (the reference's DFS makes
    each directory it walks, HdfsCopyService.java:89); ``status()`` is
    the plain directory copy's."""
    src, files = tree
    for rel in ("a/empty_leaf", "only_dirs/x/y", "only_dirs/z"):
        (src / rel).mkdir(parents=True)
    dst = tmp_path / "dst"
    eng = CopyJobEngine(spark)
    rid = eng.submit(CopyRequest("local", [CopyItem(scheme + str(src), scheme + str(dst))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert st["items"][0]["bytesCopied"] == sum(len(d) for d in files.values())

    def dirs(root):
        return sorted(os.path.relpath(r, root) for r, _, _ in os.walk(root))

    assert dirs(dst) == dirs(src)
    assert "only_dirs/x/y" in dirs(dst) and "empty_dir" in dirs(dst)


def test_checksum_disabled_verified_false_not_error(spark, tree, tmp_path):
    src, _ = tree
    eng = CopyJobEngine(spark, checksum_enabled=False)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src / "one.bin"), str(tmp_path / "o"))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is False


def test_validation_messages_verbatim(spark):
    eng = CopyJobEngine(spark)
    with pytest.raises(ValidationError, match="^namespace is required$"):
        eng.submit(CopyRequest("  ", [CopyItem("a", "b")]))
    with pytest.raises(ValidationError, match="^items must not be empty$"):
        eng.submit(CopyRequest("ns", []))
    with pytest.raises(ValidationError, match="^bandwidth must be positive$"):
        eng.submit(CopyRequest("ns", [CopyItem("a", "b")], bandwidth=0))
    with pytest.raises(ValidationError, match="^bandwidth must be positive$"):
        eng.submit(CopyRequest("ns", [CopyItem("a", "b")], bandwidth=-5))


def test_unknown_request_id_none(spark):
    assert CopyJobEngine(spark).status("no-such-id") is None


def test_throttle_rate_bounded(spark, tmp_path):
    """BENCH-5 invariant: measured rate within [0.8, 1.2]x of the cap
    (generalizes the reference's 200 B @ 100 B/s > 500 ms floor)."""
    src = tmp_path / "throttle.bin"
    src.write_bytes(os.urandom(3 * 1024 * 1024))  # 3 MiB
    eng = CopyJobEngine(spark, checksum_enabled=False, parallelism=1)
    t0 = time.monotonic()
    rid = eng.submit(
        CopyRequest("local", [CopyItem(str(src), str(tmp_path / "t.bin"))], bandwidth=1)
    )
    elapsed = time.monotonic() - t0
    assert eng.status(rid)["status"] == "COMPLETED"
    # 3 MiB at 1 MB/s -> >= ~2.4s even with scheduling overhead counted
    assert elapsed >= 2.0, elapsed


def test_speed_formatting():
    assert _speed(0, 100) == "N/A"
    assert _speed(100, 0) == "N/A"
    assert _speed(1048576, 1000) == "1.00 MB/s"
    assert _speed(2 * 1048576, 500) == "4.00 MB/s"


def test_overwrite_existing_destination(spark, tree, tmp_path):
    """R5: destination silently overwritten (HdfsCopyService.java:127)."""
    src, files = tree
    dst = tmp_path / "ow.bin"
    dst.write_bytes(b"old content")
    eng = CopyJobEngine(spark)
    eng.submit(CopyRequest("local", [CopyItem(str(src / "one.bin"), str(dst))]))
    assert dst.read_bytes() == b"x"


def test_split_large_file_chunked_copy(spark, tmp_path):
    """Byte-range splitting: a file over the threshold is copied as
    multiple (offset, length) chunk tasks writing disjoint ranges, with
    per-range verification; the result is byte-identical and reported
    verified. Sizes straddle chunk boundaries (not a multiple of chunk)."""
    src = tmp_path / "huge.bin"
    data = os.urandom(5 * 1024 * 1024 + 123)  # 5 MiB + oddment
    src.write_bytes(data)
    eng = CopyJobEngine(
        spark, parallelism=4, split_threshold_bytes=1024 * 1024, split_chunk_bytes=1024 * 1024
    )
    dst = tmp_path / "huge_out.bin"
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    item = st["items"][0]
    assert item["checksumVerified"] is True
    assert item["bytesCopied"] == len(data)
    assert dst.read_bytes() == data


def test_split_overwrites_larger_stale_destination(spark, tmp_path):
    """Pre-truncation: chunk writes into an existing LARGER destination
    must not leave stale bytes past the new EOF (R5 overwrite semantics)."""
    src = tmp_path / "s.bin"
    data = os.urandom(2 * 1024 * 1024 + 7)
    src.write_bytes(data)
    dst = tmp_path / "d.bin"
    dst.write_bytes(b"Z" * (4 * 1024 * 1024))  # stale, larger
    eng = CopyJobEngine(spark, split_threshold_bytes=1024 * 1024, split_chunk_bytes=1024 * 1024)
    eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    assert dst.stat().st_size == len(data)
    assert dst.read_bytes() == data


def test_split_mixed_tree_small_files_unsplit(spark, tmp_path):
    """A tree mixing one big file and small ones: big file splits, small
    files take the whole-file stream path; rollup sums bytes across both."""
    src = tmp_path / "mix"
    src.mkdir()
    big = os.urandom(3 * 1024 * 1024)
    (src / "big.bin").write_bytes(big)
    (src / "small.txt").write_bytes(b"tiny")
    dst = tmp_path / "mix_out"
    eng = CopyJobEngine(spark, split_threshold_bytes=1024 * 1024, split_chunk_bytes=1024 * 1024)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    st = eng.status(rid)
    item = st["items"][0]
    assert item["status"] == "COMPLETED"
    assert item["checksumVerified"] is True
    assert item["bytesCopied"] == len(big) + 4
    assert (dst / "big.bin").read_bytes() == big
    assert (dst / "small.txt").read_bytes() == b"tiny"


def test_throttled_item_never_split(spark, tmp_path):
    """Bandwidth cap is per item stream (reference R7): splitting a
    throttled file would multiply the effective rate, so it must not split.
    2 MiB at 1 MB/s must take >= ~1.6 s; if it had split into 2 parallel
    chunks it would finish in about half that."""
    src = tmp_path / "cap.bin"
    src.write_bytes(os.urandom(2 * 1024 * 1024))
    eng = CopyJobEngine(
        spark,
        checksum_enabled=False,
        parallelism=4,
        split_threshold_bytes=1024 * 1024,
        split_chunk_bytes=1024 * 1024,
    )
    t0 = time.monotonic()
    rid = eng.submit(
        CopyRequest("local", [CopyItem(str(src), str(tmp_path / "cap_out.bin"))], bandwidth=1)
    )
    elapsed = time.monotonic() - t0
    assert eng.status(rid)["status"] == "COMPLETED"
    assert elapsed >= 1.5, elapsed


def test_namespace_conf_cache_identity(spark, restore_hadoop_conf):
    """R22: per-namespace config memoized; first configuration wins
    (HdfsFileSystemFactoryTest parity: same namespace -> same cached conf).
    Since round 2 configure_namespace really applies fs.* keys to the
    session's hadoopConfiguration, so this test needs the restore fixture."""
    eng = CopyJobEngine(spark)
    c1 = eng.configure_namespace("ns1", {"fs.defaultFS": "hdfs://nn1"})
    c2 = eng.configure_namespace("ns1", {"fs.defaultFS": "hdfs://OTHER"})
    assert c1 is c2
    assert c2["fs.defaultFS"] == "hdfs://nn1"
    assert eng.namespace_conf("ns2") is None
    eng.configure_namespace("ns2", {"fs.defaultFS": "hdfs://nn2"})
    assert eng.namespace_conf("ns2")["fs.defaultFS"] == "hdfs://nn2"


from hypothesis import given, settings, strategies as st

from hadoop_copier_spark.copyjob import _copy_one_range


@settings(max_examples=40, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=300_000),
    chunk=st.integers(min_value=1, max_value=70_000),
)
def test_range_copy_reassembles_any_file(tmp_path_factory, data, chunk):
    """Property: for ANY content and ANY chunk size, copying every
    (offset, length) range reproduces the file byte-for-byte and every
    range verifies (the byte-range splitting kernel, minus Spark)."""
    base = tmp_path_factory.mktemp("prop")
    src, dst = str(base / "s.bin"), str(base / "d.bin")
    with open(src, "wb") as f:
        f.write(data)
    with open(dst, "wb") as f:
        f.truncate(len(data))  # planner pre-sizing
    total = 0
    for off in range(0, len(data), chunk):
        n, ok = _copy_one_range(src, dst, off, min(chunk, len(data) - off), checksum=True)
        assert ok
        total += n
    assert total == len(data)
    with open(dst, "rb") as f:
        assert f.read() == data


def _corrupt_read_back(monkeypatch, dst: str, flip_at: int) -> None:
    """Route the copy job's fs lookups to a LocalFS whose reads of ``dst``
    return its bytes with the one at ``flip_at`` flipped: the destination
    holds the right bytes, but what the verification re-reads does not."""
    import io

    from hadoop_copier_spark import copyjob
    from hadoop_copier_spark.fs import LocalFS

    class FlipOnReadBack(LocalFS):
        def open_read(self, p: str):
            if p != dst:
                return super().open_read(p)
            with open(p, "rb") as f:
                data = bytearray(f.read())
            data[flip_at] ^= 0xFF
            return io.BytesIO(bytes(data))

    monkeypatch.setattr(copyjob, "fs_for", lambda path: FlipOnReadBack())


def test_verification_catches_corrupt_whole_file(tmp_path, monkeypatch):
    """R8: one flipped byte in what the destination reads back fails the
    whole-file copy with the verbatim message."""
    src, dst = str(tmp_path / "s.bin"), str(tmp_path / "d.bin")
    data = os.urandom(200_000)
    with open(src, "wb") as f:
        f.write(data)
    _corrupt_read_back(monkeypatch, dst, 150_000)
    with pytest.raises(IOError) as err:
        _copy_one_range(src, dst, 0, -1, checksum=True)
    assert str(err.value) == f"Checksum mismatch for {dst}"
    with open(dst, "rb") as f:
        assert f.read() == data  # the write was right; only the read-back lies


def test_verification_catches_corrupt_range(tmp_path, monkeypatch):
    """R8 for split files: a flipped byte inside the range fails that range,
    and the message names it."""
    src, dst = str(tmp_path / "s.bin"), str(tmp_path / "d.bin")
    data = os.urandom(300_000)
    with open(src, "wb") as f:
        f.write(data)
    with open(dst, "wb") as f:
        f.truncate(len(data))  # planner pre-sizing
    offset, length = 65_536, 100_000
    _corrupt_read_back(monkeypatch, dst, offset + length - 1)
    with pytest.raises(IOError) as err:
        _copy_one_range(src, dst, offset, length, checksum=True)
    assert str(err.value) == f"Checksum mismatch for {dst} range [65536, 165536)"


@pytest.fixture()
def restore_hadoop_conf(spark):
    """The Spark session is shared across the suite: snapshot/restore the
    Hadoop keys these tests apply (production intentionally leaves them
    applied; tests must not leak hdfs:// defaults into later parquet reads)."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    keys = ("fs.defaultFS", "dfs.replication")
    saved = {k: hconf.get(k) for k in keys}
    yield hconf
    for k, v in saved.items():
        if v is None:
            hconf.unset(k)
        else:
            hconf.set(k, v)


class TestNamespaceHadoopConf:
    """HdfsFileSystemFactoryTest.java:41-81 parity: conf applied once,
    cached by identity, login invoked only with principal+keytab."""

    def test_fs_keys_applied_to_hadoop_configuration(self, spark, restore_hadoop_conf):
        hconf = restore_hadoop_conf
        eng = CopyJobEngine(spark)
        eng.configure_namespace(
            "prod", {"fs.defaultFS": "hdfs://nn1:8020", "dfs.replication": "2", "note": "x"}
        )
        assert hconf.get("fs.defaultFS") == "hdfs://nn1:8020"
        assert hconf.get("dfs.replication") == "2"
        assert hconf.get("note") is None  # non-Hadoop keys are not applied

    def test_login_called_once_with_principal_and_keytab(self, spark, restore_hadoop_conf):
        calls = []
        eng = CopyJobEngine(spark, login_fn=lambda ns, p, k: calls.append((ns, p, k)))
        conf = {
            "fs.defaultFS": "hdfs://secure:8020",
            "kerberos.principal": "svc@REALM",
            "kerberos.keytab": "/etc/svc.keytab",
        }
        first = eng.configure_namespace("secure", conf)
        again = eng.configure_namespace("secure", {"kerberos.principal": "other@REALM",
                                                   "kerberos.keytab": "/tmp/x"})
        assert calls == [("secure", "svc@REALM", "/etc/svc.keytab")]
        assert again is first  # computeIfAbsent: first configuration wins

    def test_no_login_without_principal(self, spark, restore_hadoop_conf):
        eng = CopyJobEngine(spark)
        eng.configure_namespace("open", {"fs.defaultFS": "hdfs://nn2:8020"})
        assert eng.logins == []

    def test_default_login_records(self, spark):
        eng = CopyJobEngine(spark)
        eng.configure_namespace(
            "sec2", {"kerberos.principal": "a@R", "kerberos.keytab": "/k"}
        )
        assert eng.logins == [("sec2", "a@R", "/k")]


class TestInvalidRequestBody:
    """GlobalExceptionHandler.java:16-20 parity: structural failures
    normalize to 'Invalid request body' before semantic validation."""

    @pytest.mark.parametrize(
        "body",
        [
            None,
            42,
            {"namespace": "ns"},  # items missing
            {"items": []},  # namespace missing
            {"namespace": "ns", "items": [("only-src",)]},
            {"namespace": "ns", "items": [{"hdfsPath": "/a"}]},  # dst missing
            {"namespace": "ns", "items": [("/a", 5)]},  # non-string path
            {"namespace": "ns", "items": "not-a-list"},
            {"namespace": "ns", "items": [], "bandwidth": "fast"},
            {"namespace": 7, "items": []},
        ],
    )
    def test_malformed_bodies_normalized(self, spark, body):
        eng = CopyJobEngine(spark)
        with pytest.raises(ValidationError, match="^Invalid request body$"):
            eng.submit(body)

    def test_dict_body_accepted(self, spark, tree, tmp_path):
        src, files = tree
        eng = CopyJobEngine(spark)
        rid = eng.submit(
            {"namespace": "local",
             "items": [{"hdfsPath": str(src / "one.bin"), "localPath": str(tmp_path / "o.bin")}],
             "ignored_extra": True}
        )
        assert eng.status(rid)["status"] == "COMPLETED"

    def test_semantic_validation_still_verbatim(self, spark):
        eng = CopyJobEngine(spark)
        with pytest.raises(ValidationError, match="^namespace is required$"):
            eng.submit({"namespace": "  ", "items": [("/a", "/b")]})


def test_split_failure_leaves_no_garbage_destination(spark, tmp_path):
    """ADVICE round 1: a FAILED split item must not leave a full-size
    destination of zero/garbage ranges — chunks land in a temp file that is
    renamed only on full success."""
    src = tmp_path / "big.bin"
    src.write_bytes(os.urandom(256 * 1024))
    dst = tmp_path / "out" / "big.bin"
    eng = CopyJobEngine(spark, split_threshold_bytes=64 * 1024, split_chunk_bytes=32 * 1024)

    dst.parent.mkdir(parents=True)
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    assert eng.status(rid)["status"] == "COMPLETED"
    assert dst.read_bytes() == src.read_bytes()
    assert not dst.with_name(dst.name + ".__hcs_tmp__").exists()

    # force a deterministic chunk failure: oversize the planner's view of
    # the source (monkeypatched getsize), so chunk tasks hit a short read
    src2 = tmp_path / "big2.bin"
    src2.write_bytes(os.urandom(256 * 1024))
    dst2 = tmp_path / "out" / "big2.bin"
    real_getsize = os.path.getsize
    os.path.getsize = lambda p: real_getsize(p) * 2 if str(p) == str(src2) else real_getsize(p)
    try:
        rid2 = eng.submit(CopyRequest("local", [CopyItem(str(src2), str(dst2))]))
    finally:
        os.path.getsize = real_getsize
    st = eng.status(rid2)
    assert st["status"] == "FAILED"
    assert not dst2.exists(), "failed split must not materialize a garbage destination"
    assert not dst2.with_name(dst2.name + ".__hcs_tmp__").exists(), "temp must be cleaned up"


# ---------------------------------------------------------------------------
# Round 6: pluggable filesystem layer (VERDICT r5 #3) + bounded driver
# collect (VERDICT r5 #4)
# ---------------------------------------------------------------------------

from hadoop_copier_spark.fs import ArrowFS, LocalFS, fs_for, parent, qualify, scheme_of


def test_fs_dispatch_qualify_parent():
    assert scheme_of("/a/b") is None
    assert scheme_of("file:///a") == "file"
    assert scheme_of("hdfs://nn:8020/x") == "hdfs"
    assert isinstance(fs_for("/a/b"), LocalFS)
    assert isinstance(fs_for("file:///a"), ArrowFS)
    # Hadoop Path semantics: bare paths qualify against fs.defaultFS
    assert qualify("/data/x", {"fs.defaultFS": "hdfs://nn:8020"}) == "hdfs://nn:8020/data/x"
    assert qualify("hdfs://other/x", {"fs.defaultFS": "hdfs://nn:8020"}) == "hdfs://other/x"
    assert qualify("/data/x", None) == "/data/x"
    assert parent("file:///a/b/c") == "file:///a/b"
    assert parent("/a/b/c") == "/a/b"


def test_arrowfs_walk_matches_localfs(tree):
    src, files = tree
    local = fs_for(str(src)).walk_files_with_size(str(src))
    arrow = fs_for("file://" + str(src)).walk_files_with_size("file://" + str(src))
    assert local == arrow == sorted((rel, len(data)) for rel, data in files.items())


def test_localfs_walk_matches_per_file_relpath(tree):
    """The per-directory relative prefix gives exactly the per-file
    ``relpath`` listing, also for a root spelled with a trailing slash
    (whose own files must not pick up a "./" prefix)."""
    src, files = tree
    root = str(src) + os.sep
    reference = sorted(
        (os.path.relpath(os.path.join(r, name), root), os.path.getsize(os.path.join(r, name)))
        for r, _dirs, names in os.walk(root)
        for name in names
    )
    assert LocalFS().walk_files_with_size(root) == reference
    assert [rel for rel, _ in reference] == sorted(files)


def test_copy_tree_via_file_uri_scheme(spark, tree, tmp_path):
    """End-to-end through the non-default fs backend (pyarrow.fs resolved
    from the file:// URI): listing, streamed copy, fused checksum, and
    rollup all through ArrowFS (VERDICT r5 #3 'done' criterion)."""
    src, files = tree
    dst = tmp_path / "uri_dst"
    eng = CopyJobEngine(spark)
    rid = eng.submit(
        CopyRequest("local", [CopyItem("file://" + str(src), "file://" + str(dst))])
    )
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    item = st["items"][0]
    assert item["checksumVerified"] is True
    assert item["bytesCopied"] == sum(len(d) for d in files.values())
    for rel in files:
        assert _md5(src / rel) == _md5(dst / rel)


def test_namespace_default_fs_qualifies_bare_paths(spark, tree, tmp_path, restore_hadoop_conf):
    """Reference parity: copy items carry unqualified paths and resolve
    against the namespace's fs.defaultFS (HdfsFileSystemFactory + Hadoop
    Path.getFileSystem semantics)."""
    src, _ = tree
    dst_file = tmp_path / "nsq" / "one.bin"
    eng = CopyJobEngine(spark)
    eng.configure_namespace("nsq", {"fs.defaultFS": "file://"})
    rid = eng.submit(CopyRequest("nsq", [CopyItem(str(src / "one.bin"), str(dst_file))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert dst_file.read_bytes() == b"x"


def test_uri_destination_never_splits(spark, tmp_path):
    """Append-only write model (ArrowFS): files over the split threshold
    must stay on the single-stream path instead of range-write chunks."""
    src = tmp_path / "nos.bin"
    data = os.urandom(2 * 1024 * 1024 + 5)
    src.write_bytes(data)
    dst = tmp_path / "nos_out.bin"
    eng = CopyJobEngine(spark, split_threshold_bytes=256 * 1024, split_chunk_bytes=256 * 1024)
    rid = eng.submit(
        CopyRequest("local", [CopyItem("file://" + str(src), "file://" + str(dst))])
    )
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert dst.read_bytes() == data
    assert not dst.with_name(dst.name + ".__hcs_tmp__").exists()


def test_driver_collect_is_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r5 #4 'done' criterion: no per-chunk rows reach the driver.
    A 64-chunk split copy collects only the partitions' partial rollups —
    at most parallelism x items rows (4 here), never one per chunk."""
    from pyspark import RDD

    src = tmp_path / "many.bin"
    src.write_bytes(os.urandom(4 * 1024 * 1024))  # 64 chunks at 64 KiB
    collected = []
    orig = RDD.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(RDD, "collect", spy)
    eng = CopyJobEngine(
        spark, parallelism=4, split_threshold_bytes=256 * 1024, split_chunk_bytes=64 * 1024
    )
    dst = tmp_path / "many_out.bin"
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert st["items"][0]["bytesCopied"] == 4 * 1024 * 1024
    assert _md5(src) == _md5(dst)
    assert collected and sum(collected) <= 4 * 1, collected  # parallelism x items


def test_partition_striping_spreads_chunks(spark):
    """ADVICE r5: the engine stripes the work list work[p::n] per partition,
    so consecutive chunks of one split file land on DIFFERENT partitions."""
    work = [(0, "s", "d", off, 1, "t") for off in range(8)]
    per_part = (
        _stripe(spark.sparkContext, work, 4)
        .mapPartitionsWithIndex(lambda i, it: [(i, [row[3] for g in it for row in g])])
        .collect()
    )
    offsets_by_part = {i: offs for i, offs in per_part}
    assert offsets_by_part == {0: [0, 4], 1: [1, 5], 2: [2, 6], 3: [3, 7]}


def _group_shape(sc, group):
    """(jobs, stages, tasks per stage) Spark ran under job group ``group``;
    waits for the status store to record every job's end."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status == "SUCCEEDED" for i in infos):
            break
        assert time.monotonic() < deadline, infos
        time.sleep(0.05)
    stages = [sid for i in infos for sid in i.stageIds]
    return len(infos), len(stages), [tracker.getStageInfo(sid).numTasks for sid in stages]


def test_request_runs_as_one_job_and_one_stage(spark, tree, tmp_path):
    """A copy request, split or not, is a single map-only Spark job: one
    stage of min(parallelism, work rows) tasks, no shuffle, no second
    action for split destinations, and no listing job however many
    top-level entries a directory has."""
    src, files = tree
    big = tmp_path / "split.bin"
    big.write_bytes(os.urandom(640 * 1024))  # 10 chunks of 64 KiB
    wide = tmp_path / "wide"
    for i in range(4096):
        (wide / f"d{i:04d}").mkdir(parents=True)
    (wide / "only.bin").write_bytes(b"wide")
    cases = {
        "plain": (
            CopyJobEngine(spark, parallelism=8),
            CopyItem(str(src), str(tmp_path / "plain_out")),
            min(8, len(files)),
        ),
        "split": (
            CopyJobEngine(
                spark, parallelism=4, split_threshold_bytes=128 * 1024,
                split_chunk_bytes=64 * 1024,
            ),
            CopyItem(str(big), str(tmp_path / "split_out.bin")),
            min(4, 10),
        ),
        "wide": (
            CopyJobEngine(spark, parallelism=8),
            CopyItem(str(wide), str(tmp_path / "wide_out")),
            1,
        ),
    }
    for name, (eng, item, n_tasks) in cases.items():
        st, shape = _submit_shape(spark, eng, item)
        assert st["status"] == "COMPLETED", name
        assert shape == (1, 1, [n_tasks]), name
    assert (tmp_path / "wide_out" / "only.bin").read_bytes() == b"wide"


def _submit_shape(spark, eng, item):
    """Submit one item in a fresh job group; (status, _group_shape)."""
    sc = spark.sparkContext
    group = f"copy-shape-{os.getpid()}-{time.monotonic_ns()}"
    sc.setJobGroup(group, "copy-shape")
    try:
        rid = eng.submit(CopyRequest("local", [item]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return eng.status(rid), _group_shape(sc, group)


def test_split_chunks_fill_every_partition(spark, tmp_path, monkeypatch):
    """A split file is spread evenly over ``parallelism`` chunks instead of
    ``split_chunk_bytes`` ones: 2 MiB + 7 B at parallelism 4 with 1 MiB
    chunks runs as 4 tasks (3 x 576 KiB + tail), not 3 (1 + 1 MiB + 7 B)."""
    from hadoop_copier_spark import copyjob

    monkeypatch.setattr(copyjob, "MIN_SPLIT_CHUNK", 64 * 1024)
    src = tmp_path / "s.bin"
    data = os.urandom(2 * 1024 * 1024 + 7)
    src.write_bytes(data)
    dst = tmp_path / "d.bin"
    eng = CopyJobEngine(
        spark, parallelism=4, split_threshold_bytes=1024 * 1024, split_chunk_bytes=1024 * 1024
    )
    st, shape = _submit_shape(spark, eng, CopyItem(str(src), str(dst)))
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert st["items"][0]["bytesCopied"] == len(data)
    assert dst.read_bytes() == data
    assert shape == (1, 1, [4])


KIB = 1024


@pytest.mark.parametrize(
    "parallelism, chunk_bytes, floor, lengths",
    [
        # parallelism 1: the split_chunk_bytes cap sets the granularity
        (1, 1024 * KIB, 64 * KIB, [1024 * KIB, 1024 * KIB, 7]),
        # a split_chunk_bytes below the floor still wins
        (4, 32 * KIB, 64 * KIB, [32 * KIB] * 64 + [7]),
        # balanced chunks are whole 64 KiB copy buffers: ceil(size / 3)
        # rounds up to 704 KiB, the tail takes the rest
        (3, 1024 * KIB, 64 * KIB, [704 * KIB, 704 * KIB, 640 * KIB + 7]),
        # the floor binds when size / parallelism is below it
        (64, 1024 * KIB, 128 * KIB, [128 * KIB] * 16 + [7]),
    ],
)
def test_split_chunk_plan(spark, tmp_path, monkeypatch, parallelism, chunk_bytes, floor, lengths):
    """Chunk lengths the planner hands to ``_stripe``:
    min(split_chunk_bytes, max(MIN_SPLIT_CHUNK, size / parallelism rounded
    up to 64 KiB)); every chunk copies and verifies."""
    from hadoop_copier_spark import copyjob

    monkeypatch.setattr(copyjob, "MIN_SPLIT_CHUNK", floor)
    planned = []

    def spy(sc, rows, n):
        planned.extend(rows)
        return _stripe(sc, rows, n)

    monkeypatch.setattr(copyjob, "_stripe", spy)
    src = tmp_path / "s.bin"
    data = os.urandom(2 * 1024 * KIB + 7)
    src.write_bytes(data)
    dst = tmp_path / "d.bin"
    eng = CopyJobEngine(
        spark, parallelism=parallelism, split_threshold_bytes=1024 * KIB,
        split_chunk_bytes=chunk_bytes,
    )
    rid = eng.submit(CopyRequest("local", [CopyItem(str(src), str(dst))]))
    assert [row[4] for row in planned] == lengths
    assert [row[3] for row in planned] == [sum(lengths[:i]) for i in range(len(lengths))]
    st = eng.status(rid)
    assert st["status"] == "COMPLETED" and st["items"][0]["checksumVerified"] is True
    assert dst.read_bytes() == data


def test_planning_error_fails_only_its_item(spark, tmp_path):
    """R13 parity (CopyTaskService.java:82-106): an exception while
    planning one item — here a dangling symlink inside its tree, which
    listing cannot size — fails that item alone; the others still copy
    and the request rolls up as PARTIALLY_FAILED instead of escaping."""
    good = tmp_path / "good.bin"
    good.write_bytes(os.urandom(100 * 1024))
    bad = tmp_path / "bad_tree"
    bad.mkdir()
    (bad / "ok.txt").write_bytes(b"fine")
    os.symlink(tmp_path / "nowhere", bad / "dangling")
    eng = CopyJobEngine(spark)
    rid = eng.submit(
        CopyRequest(
            "local",
            [
                CopyItem(str(good), str(tmp_path / "good_out.bin")),
                CopyItem(str(bad), str(tmp_path / "bad_out")),
            ],
        )
    )
    st = eng.status(rid)
    assert st["status"] == "PARTIALLY_FAILED"
    ok, failed = st["items"]
    assert ok["status"] == "COMPLETED" and ok["checksumVerified"] is True
    assert ok["bytesCopied"] == 100 * 1024
    assert (tmp_path / "good_out.bin").read_bytes() == good.read_bytes()
    assert failed["status"] == "FAILED"
    assert "dangling" in failed["errorMessage"]
    assert failed["bytesCopied"] == 0 and failed["checksumVerified"] is False


def test_jvm_ugi_login_bridge_reaches_hadoop_security(spark):
    """R22 depth (VERDICT r5 'What's missing' #2): the production login_fn
    drives Hadoop's real UserGroupInformation through the session JVM. In
    simple-auth mode loginUserFromKeytab is Hadoop's documented no-op, so
    the full JVM call path (setConfiguration + loginUserFromKeytab) runs
    end-to-end without a KDC and without flipping global security state."""
    from hadoop_copier_spark.copyjob import jvm_ugi_login

    eng = CopyJobEngine(spark, login_fn=jvm_ugi_login(spark, set_kerberos=False))
    eng.configure_namespace(
        "secured",
        {"kerberos.principal": "svc@EXAMPLE", "kerberos.keytab": "/no/such.keytab"},
    )
    # no exception == the UGI bridge executed; and the JVM's auth mode is
    # still simple (we must not have poisoned the shared session)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("hadoop.security.authentication") == "simple"


class TestFsLayerUnits:
    """Driver-side unit behaviors of the fs layer (no Spark involvement)."""

    def test_arrowfs_empty_dir_and_missing_paths(self, tmp_path):
        d = tmp_path / "edir"
        d.mkdir()
        fs = fs_for("file://" + str(d))
        assert fs.exists("file://" + str(d))
        assert fs.isdir("file://" + str(d))
        assert fs.walk_files_with_size("file://" + str(d)) == []
        assert not fs.exists("file://" + str(tmp_path / "ghost"))

    def test_arrowfs_create_read_replace_remove_roundtrip(self, tmp_path):
        fs = fs_for("file:///")
        p = "file://" + str(tmp_path / "sub" / "x.bin")
        with fs.create(p) as f:  # creates parents
            f.write(b"abc123")
        assert fs.size(p) == 6
        with fs.open_read(p) as f:
            f.seek(3)
            assert f.read() == b"123"
        q = "file://" + str(tmp_path / "sub" / "y.bin")
        fs.replace(p, q)
        assert fs.exists(q) and not fs.exists(p)
        fs.remove(q)
        assert not fs.exists(q)

    def test_arrowfs_refuses_range_writes(self, tmp_path):
        fs = fs_for("file:///")
        assert fs.supports_range_write is False
        with pytest.raises(NotImplementedError):
            fs.open_rw("file://" + str(tmp_path / "z.bin"))


def test_arrowfs_native_paths_keep_bucket_for_object_stores():
    """ADVICE r6: pyarrow's native-path convention differs per family —
    object stores keep the bucket IN the path (from_uri('gs://b/k') ->
    'b/k'), host-authority schemes drop it. The convention is learned from
    from_uri's own return on first contact and applied on cache hits, so
    s3/gs operations never target a bucketless path."""
    a = ArrowFS()
    try:
        fs1, native = a._resolve("gs://bucket/key/x.bin")
    except Exception:
        pytest.skip("pyarrow GcsFileSystem unavailable in this build")
    assert native == "bucket/key/x.bin"
    # cache hit: same handle, path rebuilt under the recorded convention
    fs2, native2 = a._resolve("gs://bucket/other/y.bin")
    assert fs2 is fs1
    assert native2 == "bucket/other/y.bin"
    _, root = a._resolve("gs://bucket")
    assert root == "bucket"
    # host-authority scheme: authority dropped, absolute native path
    _, local = a._resolve("file:///tmp/hcs_zz")
    assert local == "/tmp/hcs_zz"
    _, local2 = a._resolve("file:///tmp/hcs_zz2")  # cached branch
    assert local2 == "/tmp/hcs_zz2"


def test_bare_destination_stays_local_under_remote_default_fs(
    spark, tree, tmp_path, restore_hadoop_conf
):
    """ADVICE r6: only the source qualifies against fs.defaultFS. A
    namespace whose defaultFS points at a (here unreachable) hdfs://
    cluster must not redirect a bare destination path to the remote store
    — the reference's localPath always targets the local filesystem."""
    src, _ = tree
    dst = tmp_path / "advr6" / "one.bin"
    eng = CopyJobEngine(spark)
    eng.configure_namespace("nsr", {"fs.defaultFS": "hdfs://nn.invalid:8020"})
    rid = eng.submit(
        CopyRequest("nsr", [CopyItem("file://" + str(src / "one.bin"), str(dst))])
    )
    st = eng.status(rid)
    assert st["status"] == "COMPLETED"
    assert st["items"][0]["checksumVerified"] is True
    assert dst.read_bytes() == b"x"
