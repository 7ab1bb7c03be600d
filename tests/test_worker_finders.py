"""Python workers drop their cached zipimport finders, so PySpark's
per-task ``importlib.invalidate_caches()`` has no archive to re-read.
Deterministic: these check the import-cache state, not timings."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

from scripts_spark.session import drop_zip_finders

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_finders() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_imports_working(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("finder_mod_a.py", "VALUE = 'a'\n")
        z.writestr("finder_mod_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    try:
        import finder_mod_a

        assert finder_mod_a.VALUE == "a"
        assert archive in _zip_finders()
        files = zipimport._zip_directory_cache[archive]
        drop_zip_finders()
        assert _zip_finders() == []
        import finder_mod_b

        assert finder_mod_b.VALUE == "b"
        # the rebuilt finder reuses zipimport's directory cache: the
        # archive was not read again
        assert sys.path_importer_cache[archive]._files is files
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("finder_mod_a", None)
        sys.modules.pop("finder_mod_b", None)


# One core, so one reused Python worker runs every task. The probe
# itself does not call drop_zip_finders; it runs once before the
# scoring so that its own first-run imports (which build finders again)
# are done by the time it counts what the scoring task left behind.
_SCORE_THEN_PROBE = """
import sys, zipimport
import pandas as pd
from scripts_spark.functions import scoring_udf
from scripts_spark.session import get_spark, local_frame

spark = get_spark(master="local[1]", shuffle_partitions=1)

def probe(batches):
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        yield pd.DataFrame({"zip_finders": [n]})

one = local_frame(spark, [(0,)], "i long")
finders = lambda: [r[0] for r in one.mapInPandas(probe, "zip_finders long").collect()]
finders()
docs = local_frame(spark, [("hej och du",), (None,)], "scrubbed_text string")
assert len(scoring_udf.with_scores(docs).collect()) == 2
print("ZIP_FINDERS", finders())
spark.stop()
"""


def test_scoring_workers_hold_no_zip_finders():
    r = subprocess.run(
        [sys.executable, "-c", _SCORE_THEN_PROBE],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ZIP_FINDERS [0]" in r.stdout, (r.stdout, r.stderr[-3000:])
