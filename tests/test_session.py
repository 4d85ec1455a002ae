"""Session sizing and the worker package zip (no SparkSession needed).

Pins: a zip left at the old fixed ``$TMPDIR/<package>.zip`` path is
never shipped; the zip name follows the package's sources, so an edit
builds a new zip with the edited code; cores and driver memory come
from the machine."""

import importlib.util
import os
import shutil
import zipfile

from wills_columnar_format_spark import session

PKG = "wills_columnar_format_spark"


def test_stale_fixed_path_zip_is_not_returned(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    stale = tmp_path / f"{PKG}.zip"
    zipfile.ZipFile(stale, "w").close()  # an empty zip: old code
    got = session.build_package_zip()
    assert got != str(stale)
    with zipfile.ZipFile(got) as zf:
        names = set(zf.namelist())
        assert f"{PKG}/engine.py" in names
        with open(session.__file__, "rb") as f:
            assert zf.read(f"{PKG}/session.py") == f.read()
    # same sources, same zip: built once
    assert session.build_package_zip() == got


def test_edited_package_gets_a_new_zip(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    src = os.path.dirname(session.__file__)
    copy = tmp_path / "checkout" / PKG
    shutil.copytree(src, copy,
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = importlib.util.spec_from_file_location(
        "session_copy", copy / "session.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    before = mod.build_package_zip()
    with open(copy / "format.py", "a") as f:
        f.write("\n# edited\n")
    after = mod.build_package_zip()
    assert after != before
    with zipfile.ZipFile(after) as zf:
        assert zf.read(f"{PKG}/format.py").endswith(b"# edited\n")


def test_defaults_come_from_the_machine():
    if hasattr(os, "sched_getaffinity"):
        assert session._usable_cpus() == len(os.sched_getaffinity(0))
    mem = session._half_memtotal()
    assert mem.endswith(("m", "g")) and int(mem[:-1]) > 0
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        assert mem == f"{kb // 2048}m"
