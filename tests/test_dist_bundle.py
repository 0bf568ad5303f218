"""The spark-submit bundle is built, not committed: `scripts/package.sh <dir>`
must produce a zip that carries every source file and runs the pipeline on
its own, with the source tree off the import path."""

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow.dataset as ds
import pyspark

from reden_spark import oracle

ROOT = Path(__file__).resolve().parents[1]


def test_packaged_zip_runs_pipeline(fixture_dir, py_tables, oracle_links, tmp_path):
    subprocess.run(["bash", str(ROOT / "scripts" / "package.sh"), str(tmp_path / "dist")], check=True)
    zpath = tmp_path / "dist" / "reden_spark.zip"
    with zipfile.ZipFile(zpath) as z:
        names = set(z.namelist())
        tree = {p.relative_to(ROOT).as_posix() for p in (ROOT / "reden_spark").rglob("*.py")}
        assert names == tree
        # the driver script comes out of the zip too, into a directory whose
        # parents hold no reden_spark/ (its bootstrap adds parents[2] to sys.path)
        script = tmp_path / "job" / "plans" / "pipeline.py"
        script.parent.mkdir(parents=True)
        script.write_bytes(z.read("reden_spark/plans/pipeline.py"))

    out = tmp_path / "kg"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spark_submit = shutil.which("spark-submit") or str(Path(pyspark.__file__).parent / "bin" / "spark-submit")
    proc = subprocess.run(
        [spark_submit, "--py-files", str(zpath), str(script),
         "--data-dir", str(fixture_dir), "--out-dir", str(out), "--master", "local[2]"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])

    want = oracle.links_to_triples(
        oracle_links,
        [(r["subj"], r["pred"], r["obj"]) for r in py_tables["kb_edges"]],
        py_tables["dico"],
    )
    assert counts["links"] == len(oracle_links)
    got = ds.dataset(str(out / "triples"), partitioning="hive").to_table(columns=["subj", "pred", "obj"])
    assert set(zip(*(got.column(c).to_pylist() for c in ("subj", "pred", "obj")))) == set(want)
    assert counts["triples"] == len(want) > 100
