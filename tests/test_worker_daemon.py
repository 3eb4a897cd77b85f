"""The warm Python worker daemon (llm_scraper_spark/worker_daemon.py):
the stat-guarded zip importer invalidation, the pre-imported modules a
forked worker starts with, and a daemon start that survives a failed
pre-import."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from llm_scraper_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the guard installs on Python < 3.13 only")
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "warm_mods.zip")
    _write_zip(archive, {"warm_mod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._guarded_invalidate)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "warm_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "warm_mod_b", raising=False)
    assert importlib.import_module("warm_mod_a").X == 1
    worker_daemon.prime_zip_stamps()

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real_read(p))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"warm_mod_a": "X = 1\n", "warm_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("warm_mod_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_forked_worker_starts_warm(spark):
    # nested, so it is pickled by value: unpickling it imports nothing,
    # and sys.modules shows what the forked worker inherited
    def probe(_):
        import os
        import sys

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        yield (parent, "pandas" in sys.modules,
               "llm_scraper_spark.crawl.waves" in sys.modules)

    [(parent, has_pandas, has_waves)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())
    assert "llm_scraper_spark.worker_daemon" in parent
    assert has_pandas and has_waves


_BOGUS_DAEMON = """\
from llm_scraper_spark import worker_daemon

if __name__ == "__main__":
    worker_daemon.main(("no_such_module_for_daemon_test",)
                       + worker_daemon.PREIMPORTS)
"""

_DRIVER = """\
from llm_scraper_spark.session import get_spark

spark = get_spark(app_name="bogus_daemon", master="local[1]",
                  shuffle_partitions=1,
                  extra_conf={"spark.python.daemon.module": "bogus_daemon"})

def probe(it):
    import os
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        yield f.read().replace(b"\\0", b" ").decode()

print("PARENT", spark.sparkContext.parallelize([0], 1)
      .mapPartitions(probe).collect()[0])
spark.stop()
"""


def test_failed_preimport_still_serves_tasks(tmp_path):
    (tmp_path / "bogus_daemon.py").write_text(_BOGUS_DAEMON)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join([str(tmp_path), REPO]),
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _DRIVER], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PARENT" in proc.stdout and "bogus_daemon" in proc.stdout
    assert "skipped no_such_module_for_daemon_test" in proc.stderr
