"""Installability: the package must work as a normal pip-installed library
(r5 verdict #8), not only via the repo-root sys.path hack.

The sandbox's setuptools 65 lacks the `wheel` package every pip build path
requires, so a real `pip install -e .` cannot complete here; these tests
split the claim into the parts that CAN be proven:

1. pyproject.toml is valid and its metadata matches the real package tree.
2. The package tree is self-contained: copied to a site-packages-style dir
   (exactly what a wheel install produces for a pure-Python project) it
   imports and loads all 286 queries from a foreign cwd with no repo-root
   on sys.path.
3. A live `pip install` is attempted and skipped with the environmental
   reason if the toolchain can't build wheels.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyproject_metadata_matches_package():
    import tomllib

    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        meta = tomllib.load(fh)
    proj = meta["project"]
    assert proj["name"] == "json-parquet-convertor-spark"
    assert any(d.startswith("pyspark") for d in proj["dependencies"])
    assert "duckdb" in proj["optional-dependencies"]["test"]
    # version single-sourced with the package
    sys.path.insert(0, REPO)
    import json_parquet_convertor_spark as pkg

    assert proj["version"] == pkg.__version__
    # the packages.find include pattern actually matches the package dir
    include = meta["tool"]["setuptools"]["packages"]["find"]["include"]
    assert any(
        p.rstrip("*") and "json_parquet_convertor_spark".startswith(
            p.rstrip("*")
        )
        for p in include
    )


def test_package_importable_from_site_dir_and_foreign_cwd(tmp_path):
    """Wheel-install simulation: a pure-Python wheel unpacks the package
    directory into site-packages verbatim. Copy it to a clean dir, chdir
    far away, drop the repo root from every path source, and the full
    registry must still load — proving no module depends on repo-relative
    files or the __spark_entry__ sys.path shim."""
    site = tmp_path / "site-packages"
    site.mkdir()
    shutil.copytree(
        os.path.join(REPO, "json_parquet_convertor_spark"),
        site / "json_parquet_convertor_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(site)
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            (
                "import json_parquet_convertor_spark as p, sys; "
                "assert not p.__file__.startswith(%r), p.__file__; "
                "from json_parquet_convertor_spark import registry; "
                "registry.load_all(); "
                "assert len(registry.QUERIES) == 286, len(registry.QUERIES); "
                "print('ok')" % REPO
            ),
        ],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().endswith("ok")


def test_pip_editable_install(tmp_path):
    """The real thing, where the toolchain allows it."""
    try:
        import wheel  # noqa: F401
    except ImportError:
        pytest.skip(
            "setuptools<70 needs the `wheel` package for every pip build "
            "path (PEP 660 and legacy); not installed in this sandbox"
        )
    prefix = tmp_path / "prefix"
    proc = subprocess.run(
        [
            sys.executable, "-m", "pip", "install", "-e", REPO,
            "--no-build-isolation", "--no-deps", "--prefix", str(prefix),
            "-q",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr


def test_custom_source_unpickles_without_the_package(tmp_path):
    """A Python worker rebuilds the custom data source from its pickle
    without importing this package: run from a foreign cwd with no
    ``PYTHONPATH``, the source and its reader still produce the feed."""
    from pyspark import cloudpickle

    from json_parquet_convertor_spark.sources.pysource import SensorDataSource

    blob = tmp_path / "source.pkl"
    blob.write_bytes(cloudpickle.dumps(SensorDataSource))
    code = (
        "import pickle, sys\n"
        "cls = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "src = cls({'sensors': '2', 'ticks': '2'})\n"
        "r = src.reader(src.schema())\n"
        "print(cls.name(), [list(r.read(p)) for p in r.partitions()])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(blob)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    feed = [[(0, 0, 0), (0, 1, 17)], [(1, 0, 100003), (1, 1, 100020)]]
    assert out.stdout.strip() == f"jpc_sensors {feed}"
