"""Source identity, the one rule in ``_content_identity``
(``runners/spark_runner.py``): a file is its content's sha256, memoized
for the process under its stat; a directory hashes every file's digest
with its relative path. An unchanged source is not read again; a rewrite
is, also when its old mtime is put back and also inside the racy window;
a touch keeps the UUID. Only ``from_*`` is called: no Spark job runs."""

import ast
import hashlib
import os
import time
from pathlib import Path

import pytest

import krnel_graph_spark
from krnel_graph_spark.runners import spark_runner


@pytest.fixture(scope="module")
def settled(tmp_path_factory):
    """One source per test, older than the racy window, so their digests
    are memoized (one wait for the whole module)."""
    root = tmp_path_factory.mktemp("settled")
    for name in ("hit", "rewrite", "touch"):
        (root / f"{name}.parquet").write_bytes(f"PAR1 {name} bytes PAR1".encode())
    for name in ("hit_dir", "rewrite_dir", "rename_dir"):
        (root / name).mkdir()
        (root / name / "part-0.parquet").write_bytes(b"0123456789")
        (root / name / "part-1.parquet").write_bytes(b"9876543210")
    time.sleep(spark_runner._RACY_NS / 1e9 + 0.1)
    return root


@pytest.fixture()
def opened(monkeypatch):
    """The paths the identity rule opens, in order."""
    paths = []

    def counting(file, *args, **kwargs):
        paths.append(str(file))
        return open(file, *args, **kwargs)

    monkeypatch.setattr(spark_runner, "open", counting, raising=False)
    return paths


def _rewrite_keeping_mtime(path: Path, data: bytes) -> None:
    """Same size, new bytes, the old mtime put back: only ctime tells."""
    st = path.stat()
    assert len(data) == st.st_size
    path.write_bytes(data)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert path.stat().st_mtime_ns == st.st_mtime_ns


def test_unchanged_source_opens_no_bytes(lazy_runner, settled, opened):
    for name in ("hit.parquet", "hit_dir"):
        path = str(settled / name)
        first = lazy_runner.from_parquet(path)
        opened.clear()
        assert lazy_runner.from_parquet(path).uuid == first.uuid
        assert opened == []


def test_same_size_rewrite_misses(lazy_runner, settled):
    path = settled / "rewrite.parquet"
    before = lazy_runner.from_parquet(str(path))
    data = b"PAR1 REWRITE bytes PAR1"
    _rewrite_keeping_mtime(path, data)
    after = lazy_runner.from_parquet(str(path))
    assert after.content_hash == hashlib.sha256(data).hexdigest()
    assert after.uuid != before.uuid


def test_same_size_rewrite_inside_a_directory_misses(lazy_runner, settled):
    root = settled / "rewrite_dir"
    before = lazy_runner.from_parquet(str(root))
    _rewrite_keeping_mtime(root / "part-1.parquet", b"0000000000")
    assert lazy_runner.from_parquet(str(root)).uuid != before.uuid


def test_touch_rehashes_and_keeps_the_uuid(lazy_runner, settled, opened):
    path = settled / "touch.parquet"
    before = lazy_runner.from_parquet(str(path))
    opened.clear()
    os.utime(path)
    assert lazy_runner.from_parquet(str(path)).uuid == before.uuid
    assert opened == [str(path)]


def test_rename_inside_a_directory_changes_its_identity(lazy_runner, settled):
    root = settled / "rename_dir"
    before = lazy_runner.from_parquet(str(root))
    os.rename(root / "part-1.parquet", root / "part-2.parquet")
    assert lazy_runner.from_parquet(str(root)).uuid != before.uuid


def test_rewrite_inside_the_racy_window_is_hashed_again(lazy_runner, tmp_path, opened):
    """A file changed less than the window ago is not memoized: each call
    reads it, so a rewrite within one timestamp tick is still seen."""
    path = tmp_path / "fresh.parquet"
    path.write_bytes(b"PAR1 fresh PAR1")
    first = lazy_runner.from_parquet(str(path))
    assert lazy_runner.from_parquet(str(path)).uuid == first.uuid
    assert opened == [str(path)] * 2
    _rewrite_keeping_mtime(path, b"PAR1 FRESH PAR1")
    assert lazy_runner.from_parquet(str(path)).uuid != first.uuid


def test_only_the_identity_rule_hashes_file_bytes_in_runners():
    """Under ``runners/`` one function reads a file into a hash,
    ``_file_digest``, so every source identity goes through its memo."""
    package = Path(krnel_graph_spark.__file__).parent
    sites = set()
    for path in sorted((package / "runners").rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = [
                ast.unparse(node.func)
                for node in ast.walk(fn)
                if isinstance(node, ast.Call)
            ]
            hashes = any(c.startswith("hashlib.") for c in calls)
            reads = any(
                c in ("open", "io.open", "os.open", "mmap.mmap")
                or c.endswith((".read_bytes", ".open"))
                for c in calls
            )
            if hashes and reads:
                sites.add((str(path.relative_to(package)), fn.name))
    assert sites == {("runners/spark_runner.py", "_file_digest")}
