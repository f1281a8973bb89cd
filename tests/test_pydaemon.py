"""The local worker daemon's zip directory cache (``pydaemon``).

The first tests patch ``zipimporter`` in this process, as the daemon
does before it forks, and need no Spark. The last one starts a session
in a subprocess whose cwd is outside the checkout and asks a Python
worker which ``invalidate_caches`` it runs.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mini_data_platform_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, values):
    """``zpkg.<name>`` with ``VALUE = value`` for each item of ``values``."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for name, value in values.items():
            zf.writestr(f"zpkg/{name}.py", f"VALUE = {value}\n")


def _forget():
    for mod in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[mod]


def _import_value(name="mod"):
    _forget()
    return importlib.import_module(f"zpkg.{name}").VALUE


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` whose ``zpkg.mod`` is imported, then the
    daemon's patch installed; both undone afterwards."""
    path = str(tmp_path / "z.zip")
    _write_zip(path, {"mod": 1})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert _import_value() == 1
    pydaemon.install()
    yield path
    _forget()


def test_rewritten_archive_imports_new_content(archive):
    """A new module and a moved one: a stale directory would find neither.
    The package's own importer (``z.zip/zpkg``) sees the new directory
    too."""
    _write_zip(archive, {"new": 3, "mod": 2})
    importlib.invalidate_caches()
    assert _import_value("new") == 3
    assert _import_value() == 2


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = []
    read = zipimport._read_directory  # noqa: SLF001

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert _import_value() == 1


def test_local_session_workers_run_the_daemon(tmp_path):
    """Outside the checkout, a session's workers still start the daemon:
    ``get_spark`` puts the checkout on the executors' PYTHONPATH."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from mini_data_platform_spark.session import get_spark

        def where(batches):
            import zipimport
            import pandas as pd
            code = zipimport.zipimporter.invalidate_caches.__code__
            for _ in batches:
                yield pd.DataFrame({{"f": [code.co_filename]}})

        spark = get_spark("pydaemon-test", master="local[2]")
        rows = spark.range(2).repartition(2).mapInPandas(where, "f string").collect()
        print("DAEMON", sorted({{r.f for r in rows}}))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    daemon = os.path.join(REPO, "mini_data_platform_spark", "pydaemon.py")
    assert f"DAEMON {[daemon]}" in out.stdout
