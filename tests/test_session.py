"""The executor zip of ``session.ensure_executor_imports`` belongs to the
content of the checkout that builds it, not to its file times."""

import os
import tempfile
import zipfile

from sparkhtml.spark.session import pyfiles_zip


def _tree(root, body, mtime):
    pkg = root / "sparkhtml" / "spark"
    pkg.mkdir(parents=True)
    files = {"sparkhtml/__init__.py": b"", "sparkhtml/spark/pdf.py": body}
    for rel, data in files.items():
        path = root / rel
        path.write_bytes(data)
        os.utime(path, (mtime, mtime))
    return files


def _contents(zip_path):
    with zipfile.ZipFile(zip_path) as z:
        return {name: z.read(name) for name in z.namelist()}


def test_each_tree_ships_its_own_zip(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.mkdir(tmp_path / "tmp")
    t = 1_700_000_000
    a = _tree(tmp_path / "a", b"X = 'a'\n", t)
    b = _tree(tmp_path / "b", b"X = 'b'\n", t)  # same mtimes, new content
    za, zb = pyfiles_zip(str(tmp_path / "a")), pyfiles_zip(str(tmp_path / "b"))
    assert za != zb
    assert _contents(za) == a and _contents(zb) == b
    # a tree older than an existing zip still gets a zip of its own content
    c = _tree(tmp_path / "c", b"X = 'c'\n", t - 86_400)
    zc = pyfiles_zip(str(tmp_path / "c"))
    assert zc not in (za, zb) and _contents(zc) == c
    # the same content maps to the same zip, which is built once
    stamp = os.stat(za).st_mtime_ns
    assert pyfiles_zip(str(tmp_path / "a")) == za
    assert os.stat(za).st_mtime_ns == stamp
    assert sorted(os.listdir(tmp_path / "tmp")) == sorted(
        os.path.basename(z) for z in (za, zb, zc))
