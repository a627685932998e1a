"""The worker daemon entry (sparkpdf/worker_daemon.py): pyspark.zip moves
behind the installed pyspark only when the two are byte-identical, and a
local session's workers then import pyspark from outside the zip."""

import os
import subprocess
import sys
import zipfile

import pytest

from sparkpdf import worker_daemon
from sparkpdf.operators import _kernel

FILES = {
    "pyspark/__init__.py": b"# top\n",
    "pyspark/daemon.py": b"def manager():\n    pass\n",
    "pyspark/sql/__init__.py": b"",
    "pyspark/sql/tests/test_x.py": b"def test():\n    pass\n",
}


def _layout(tmp_path, drop=(), flip=None):
    """A pyspark.zip of FILES and an installed copy under site/, minus
    `drop` and with the last byte of `flip` changed. Returns a
    sys.path-like list: [cwd, zip, other, site]."""
    archive = tmp_path / "lib" / "pyspark.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as zf:
        for name, data in FILES.items():
            zf.writestr(name, data)
    site = tmp_path / "site"
    for name, data in FILES.items():
        if name in drop:
            continue
        if name == flip:
            data = data[:-1] + bytes([data[-1] ^ 1])
        path = site.joinpath(*name.split("/"))
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)
    other = tmp_path / "other"
    other.mkdir()
    return [str(tmp_path), str(archive), str(other), str(site)]


def test_importing_the_module_starts_nothing():
    """The daemon runs only as __main__: importing the module (as the
    tests do) neither touches sys.path nor imports pyspark.daemon."""
    code = ("import sys; before = list(sys.path); "
            "import sparkpdf.worker_daemon; "
            "assert sys.path == before; "
            "assert 'pyspark.daemon' not in sys.modules; "
            "assert 'pyspark' not in sys.modules")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", code], cwd=root,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout == ""


def test_identical_copies_move_the_zip_behind_the_installed_package(tmp_path):
    path = _layout(tmp_path)
    cwd, archive, other, site = path
    assert worker_daemon.prefer_installed(path)
    assert path == [cwd, other, site, archive]


def test_one_flipped_byte_keeps_the_stock_order(tmp_path):
    path = _layout(tmp_path, flip="pyspark/daemon.py")
    stock = list(path)
    assert not worker_daemon.prefer_installed(path)
    assert path == stock


def test_a_missing_module_keeps_the_stock_order(tmp_path):
    path = _layout(tmp_path, drop={"pyspark/sql/__init__.py"})
    stock = list(path)
    assert not worker_daemon.prefer_installed(path)
    assert path == stock


def test_a_missing_tests_module_still_moves_the_zip(tmp_path):
    path = _layout(tmp_path, drop={"pyspark/sql/tests/test_x.py"})
    cwd, archive, other, site = path
    assert worker_daemon.prefer_installed(path)
    assert path == [cwd, other, site, archive]


def _installed_root():
    """The root of the driver's installed pyspark when it is
    byte-identical to Spark's pyspark.zip, else None."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    archive = os.path.join(_find_spark_home(), "python", "lib",
                           worker_daemon.ARCHIVE)
    root = os.path.dirname(os.path.dirname(pyspark.__file__))
    if os.path.isfile(archive) and worker_daemon.same_bytes(archive, root):
        return root
    return None


def test_local_workers_import_pyspark_from_outside_the_zip(spark):
    root = _installed_root()
    if root is None:
        pytest.skip("no installed pyspark byte-identical to pyspark.zip")

    def origins(i):
        import sys

        zipped = sum(
            1 for name, mod in list(sys.modules.items())
            if name.startswith("pyspark")
            and ".zip" in (getattr(getattr(mod, "__spec__", None),
                                   "origin", None) or ""))
        yield i, sys.modules["pyspark"].__file__, zipped

    rows = _kernel.map_kernel(spark.range(2), ["id"], origins,
                              "id long, pyspark string, zipped long").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.pyspark == os.path.join(root, "pyspark", "__init__.py")
        assert r.zipped == 0
