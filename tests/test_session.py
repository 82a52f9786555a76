"""What a ``get_spark`` session sets up beyond Spark's defaults.

``session.get_spark`` runs the Python workers through ``worker_daemon``,
which drops Spark's archives from their ``sys.path`` when the installed
pyspark and py4j are the same code, and puts the package on their
``PYTHONPATH``. It also sizes the generated-class cache so that a warm
re-run of the registered queries compiles no class again, and gives
a small local driver JVM two JIT compiler threads.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

import __spark_entry__ as entry
from sentiment_analysis_data_engineering_spark import session, worker_daemon
from sentiment_analysis_data_engineering_spark.operators.dedup import release_pinned
from sentiment_analysis_data_engineering_spark.operators.observe import codegen_compile_count

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
        from sentiment_analysis_data_engineering_spark.session import _driver_java_options, get_spark

        spark = get_spark(
            "any_cwd", master="local[2]", shuffle_partitions=2,
            extra_conf={{"spark.driver.extraJavaOptions": "-Dgraft.caller.option=kept"}},
        )
        rows = entry.queries()["multimodal_decode_features"](spark, {SF0001!r}).collect()
        frame = spark.createDataFrame([(i,) for i in range(4)], "i int")
        assert rows and frame.count() == 4

        # the driver JVM's JIT budget: one C1 and one C2 thread, first on
        # its command line, so the caller's own options come after it
        jvm = spark.sparkContext._jvm
        management = jvm.java.lang.management.ManagementFactory
        diagnostic = management.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
        option = diagnostic.getVMOption("CICompilerCount")
        flag = (option.getValue(), option.getOrigin().toString())
        args = list(management.getRuntimeMXBean().getInputArguments())
        if _driver_java_options("local[2]", None):
            assert flag == ("2", "VM_CREATION"), flag
            assert args.index("-XX:CICompilerCount=2") < args.index("-Dgraft.caller.option=kept"), args
        else:
            assert flag[1] != "VM_CREATION", flag
        assert jvm.java.lang.System.getProperty("graft.caller.option") == "kept"
        print("ok", len(rows))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1].startswith("ok ")


def test_driver_jit_flag_only_in_a_small_local_session(monkeypatch):
    flag = "-XX:CICompilerCount=2"
    monkeypatch.setattr(os, "cpu_count", lambda: 7)
    assert session._driver_java_options("local[4]", None) == flag
    # the caller's options come after the flag: HotSpot takes the last
    # of a repeated flag, so their own -XX:CICompilerCount wins
    assert session._driver_java_options("local[1]", "-XX:CICompilerCount=3") == (
        f"{flag} -XX:CICompilerCount=3"
    )
    for master in ("local[5]", "local[8]", "local[32]", "local[*]", "local", "yarn"):
        assert session._driver_java_options(master, None) is None
        assert session._driver_java_options(master, "-Xss4m") == "-Xss4m"
    # 8 processors and up: HotSpot's default starts more than three threads
    monkeypatch.setattr(os, "cpu_count", lambda: 8)
    assert session._driver_java_options("local[4]", "-Xss4m") == "-Xss4m"


#: the benchmark's query mix: one pass over it at sf0.001 compiles 100
#: distinct classes, which Spark's default cache of 100 entries does not
#: keep (its Guava cache evicts per segment): without get_spark's cache
#: size each warm pass recompiled 54 of them
MIX = [
    "star_join_revenue", "groupby_agg_pricing_summary", "nway_inner_join", "kcore_parts",
    "text_quality_score", "multimodal_decode_features", "unigram_logprob_score",
]


def test_warm_rerun_of_registered_queries_compiles_no_class(spark):
    queries = entry.queries()

    def compiled_by_one_pass() -> int:
        before = codegen_compile_count(spark)
        for name in MIX:
            try:
                queries[name](spark, SF0001).write.format("noop").mode("overwrite").save()
            finally:
                release_pinned()
        return codegen_compile_count(spark) - before

    compiled_by_one_pass()
    assert compiled_by_one_pass() == 0
