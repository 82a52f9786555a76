"""Python workers of a ``get_spark`` session: where they import from.

``session.get_spark`` runs the workers through ``worker_daemon``, which
drops Spark's archives from their ``sys.path`` when the installed pyspark
and py4j are the same code, and puts the package on their ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

from sentiment_analysis_data_engineering_spark import worker_daemon

from conftest import ROOT, SF0001


def _state_probe():
    """A function that reports where a Python worker imports from. It is
    nested so that it is pickled by value: workers cannot import tests."""

    def state() -> str:
        import importlib
        import zipimport

        import pyspark

        importlib.invalidate_caches()
        return json.dumps({
            "archives": [p for p in sys.path if os.path.isfile(p)],
            "zipimporters": sum(
                isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
            ),
            "pyspark_dir": os.path.isdir(os.path.dirname(pyspark.__file__)),
            "version": pyspark.__version__,
        })

    return state


def _assert_directory_imports(states, spark):
    assert states
    for state in map(json.loads, states):
        assert state == {
            "archives": [], "zipimporters": 0, "pyspark_dir": True, "version": spark.version,
        }


def test_list_frame_task_imports_pyspark_from_a_directory(spark):
    # the PythonRDD path: a createDataFrame(<list>) frame's tasks
    state = _state_probe()
    frame = spark.createDataFrame([(i,) for i in range(4)], "i int")
    states = frame.rdd.mapPartitions(lambda _: [state()]).collect()
    _assert_directory_imports(states, spark)


def test_map_in_pandas_task_imports_pyspark_from_a_directory(spark):
    state = _state_probe()

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({"state": [state()]})

    rows = spark.range(4).mapInPandas(probe, "state string").collect()
    _assert_directory_imports([r.state for r in rows], spark)


def _site(tmp_path, name, packages, version=b"__version__ = '4.1.2'\n"):
    """A directory holding ``packages``, each with ``version.py``."""
    site = tmp_path / name
    for pkg in packages:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_bytes(version)
    return str(site)


def _archive(tmp_path, name, members):
    path = tmp_path / name
    with zipfile.ZipFile(path, "w") as z:
        for member, data in members.items():
            z.writestr(member, data)
    return str(path)


def test_kept_path_drops_archives_only_for_the_same_installed_code(tmp_path):
    # Spark's three archives: pyspark, py4j and a jar with no Python
    version = b"__version__ = '4.1.2'\n"
    spark_archives = [
        _archive(tmp_path, "pyspark.zip",
                 {"pyspark/__init__.py": "", "pyspark/version.py": version}),
        _archive(tmp_path, "py4j-src.zip",
                 {"py4j/__init__.py": "", "py4j/version.py": version}),
        _archive(tmp_path, "core.jar", {"org/Main.class": b"\xca\xfe"}),
    ]
    site = _site(tmp_path, "site", ["pyspark", "py4j"])
    path = [*spark_archives, str(tmp_path / "missing"), site]
    assert worker_daemon.kept_path(path) == [str(tmp_path / "missing"), site]

    # the installed pyspark differs from the archive's
    other = _site(tmp_path, "other", ["pyspark", "py4j"], b"__version__ = '4.0.0'\n")
    assert worker_daemon.kept_path([*spark_archives, other]) == [*spark_archives, other]

    # py4j, or pyspark, resolves only from an archive
    for pkg in ("pyspark", "py4j"):
        only = _site(tmp_path, f"only_{pkg}", [pkg])
        assert worker_daemon.kept_path([*spark_archives, only]) == [*spark_archives, only]

    # an archive that carries another module stays, and so do the others
    user = _archive(tmp_path, "user.zip", {"mylib/__init__.py": ""})
    assert worker_daemon.kept_path([*spark_archives, user, site]) == [
        *spark_archives, user, site,
    ]


def test_get_spark_runs_python_workers_from_any_cwd():
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import __spark_entry__ as entry
        from sentiment_analysis_data_engineering_spark.session import get_spark

        spark = get_spark("any_cwd", master="local[2]", shuffle_partitions=2)
        rows = entry.queries()["multimodal_decode_features"](spark, {SF0001!r}).collect()
        frame = spark.createDataFrame([(i,) for i in range(4)], "i int")
        assert rows and frame.count() == 4
        print("ok", len(rows))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1].startswith("ok ")
