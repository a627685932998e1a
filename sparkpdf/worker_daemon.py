"""Python worker daemon for the local sessions `session.get_spark` starts:
`pyspark.daemon`, imported from the installed, bytecode-cached PySpark.

Spark starts an executor's worker daemon as `python -m <module>` with
`pyspark.zip` first on `PYTHONPATH`. zipimport keeps no bytecode cache,
so every new daemon compiles the ~90 pyspark modules a worker imports
from source: `import pyspark.daemon` took 0.75-0.97 s from the zip and
0.14-0.20 s from the installed package on a 4-core x86-64 VM. When the
installed `pyspark` is byte-identical to the zip, this module moves the
zip behind it on `sys.path`, then runs `pyspark.daemon` unchanged.

Byte-identical means every zip member's directory CRC-32 equals the
installed file's. Members the wheel leaves out are tolerated only under
`tests/` and `benchmark/` package directories (PySpark's wheel ships
neither); any other missing or different file keeps the stock order.

Before Python 3.13, PySpark's per-task `importlib.invalidate_caches()`
makes every `zipimporter` (pyspark.zip, py4j, the spark-core jar)
re-read its whole directory, 0.1-0.2 s per task. `install_zip_hook`
re-reads an archive only when its (mtime, size) changed; the daemon
installs it and stamps every archive before it forks, so every worker,
RDD-path ones included, inherits the stamps.

Stdlib only, and nothing here may write to stdout: the JVM reads the
daemon's port from it. The work sits behind `__name__ == "__main__"`, so
importing this module starts nothing.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipfile
import zipimport
import zlib

ARCHIVE = "pyspark.zip"
_OPTIONAL_DIRS = frozenset(("tests", "benchmark"))

# Python 3.13's zipimporter.invalidate_caches only drops the cached
# directory and re-reads it on the next lookup
_LAZY_ZIP_INVALIDATION = sys.version_info >= (3, 13)
_eager_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before the hook
# last read its directory
_zip_stamps: dict = {}


def _zip_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive directory
    only when the file's (mtime, size) differs from the last re-read;
    otherwise the importer picks up the shared cached directory."""
    stamp = _zip_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _zip_stamps.get(self.archive) != stamp:
        _zip_stamps.pop(self.archive, None)
        _eager_invalidate(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _zip_stamps[self.archive] = stamp
    else:
        self._files = files


def install_zip_hook() -> bool:
    """Install `_invalidate_if_changed` for every zipimporter in this
    process (idempotent). A no-op on Python >= 3.13. Returns whether the
    hook is active."""
    if _LAZY_ZIP_INVALIDATION:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


def same_bytes(archive: str, root: str) -> bool:
    """Whether every file member of `archive` is byte-identical to the
    file at the same relative path under `root`, missing members under
    a `tests/` or `benchmark/` directory excepted."""
    try:
        with zipfile.ZipFile(archive) as zf:
            members = [i for i in zf.infolist() if not i.is_dir()]
    except (OSError, zipfile.BadZipFile):
        return False
    for info in members:
        parts = info.filename.split("/")
        try:
            with open(os.path.join(root, *parts), "rb") as f:
                crc = zlib.crc32(f.read())
        except FileNotFoundError:
            if _OPTIONAL_DIRS.isdisjoint(parts[:-1]):
                return False
            continue
        except OSError:
            return False
        if crc != info.CRC:
            return False
    return bool(members)


def prefer_installed(path: list) -> bool:
    """Move the `pyspark.zip` entry of `path` (in place) right behind the
    first later entry holding a `pyspark` package, when that package is
    byte-identical to the zip. Returns whether the zip moved."""
    zi = next((i for i, p in enumerate(path)
               if os.path.basename(p) == ARCHIVE), None)
    if zi is None:
        return False
    for j in range(zi + 1, len(path)):
        if os.path.isfile(os.path.join(path[j], "pyspark", "__init__.py")):
            if not same_bytes(path[zi], path[j]):
                return False
            path.insert(j, path.pop(zi))
            return True
    return False


if __name__ == "__main__":
    prefer_installed(sys.path)
    # the hook of the module workers import by name, not of __main__
    from sparkpdf import worker_daemon
    if worker_daemon.install_zip_hook():
        importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
