"""The committed ``dist/llm_scraper_spark.zip`` (the ``spark-submit
--py-files`` artifact, README and jobs/crawl_job.py) must ship the engine
as it is in the tree: rebuild it with ``python package.py`` after any
change under ``llm_scraper_spark/``."""

import os
import zipfile

import package


def _members(path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as zf:
        return {name: zf.read(name) for name in zf.namelist()}


def test_committed_zip_matches_fresh_build(tmp_path):
    committed = _members(os.path.join(package.REPO, "dist",
                                      "llm_scraper_spark.zip"))
    fresh = _members(package.build(str(tmp_path / "llm_scraper_spark.zip")))
    assert sorted(committed) == sorted(fresh)
    stale = sorted(n for n in fresh if committed[n] != fresh[n])
    assert not stale, f"stale in dist/llm_scraper_spark.zip: {stale}"
