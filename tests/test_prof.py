"""The profiling harness: ``scripts/prof.py``'s ``measure`` and its
subcommand surface, and bench.py's ``clear`` step that both share."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

import bench
from docker_neo4j_spark.operators import gds

PROF = Path(__file__).resolve().parents[1] / "scripts" / "prof.py"
_spec = importlib.util.spec_from_file_location("prof", PROF)
prof = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(prof)

# the least engine a tree needs for `prof.py --repo TREE time`: a session,
# the warm-up's two loaders and one query
_STUB_TREE = {
    "docker_neo4j_spark/__init__.py": (
        "from pyspark.sql import SparkSession\n\n\n"
        "def get_spark(app_name, master, extra_conf):\n"
        "    return SparkSession.builder.appName(app_name).master(master)"
        ".config(map=extra_conf).getOrCreate()\n"
    ),
    "docker_neo4j_spark/sources/__init__.py": "",
    "docker_neo4j_spark/sources/tpch.py": (
        "def load_tables(spark, sf):\n    return {}\n\n\n"
        "def build_graph(spark, sf):\n    return None\n"
    ),
    "__spark_entry__.py": "def queries():\n    return {'tiny': lambda spark, sf: spark.range(3)}\n",
}


def test_measure_matches_status_tracker(spark):
    """measure counts the group's jobs, the stages that ran (a stage AQE
    reuses from an earlier job shows up again as skipped) and their tasks."""
    with prof.measure(spark, "test-prof-measure") as m:
        spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup("test-prof-measure")
    infos = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
    ran = [i for i in infos if i.numCompletedTasks > 0]
    assert m["jobs"] == len(jobs) >= 1
    assert m["stages"] == len(ran) >= 1
    assert m["tasks"] == sum(i.numCompletedTasks for i in ran)
    assert m["run_ms"] >= 0 and m["shuffle_bytes"] > 0
    # the group ends with the block
    spark.range(1).collect()
    assert len(tracker.getJobIdsForGroup("test-prof-measure")) == len(jobs)


def test_clear_frees_kernel_checkpoints_and_cache(spark):
    """random_walk's result reads its step checkpoints, so they outlive the
    kernel; bench.clear drops them and every cached frame."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"])
    starts = spark.createDataFrame([(1,), (3,)], ["id"])
    gds.random_walk(edges, starts, undirected=True).collect()
    spark.range(10).cache().count()
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert jsc.getPersistentRDDs().size() > 0 and not cache_manager.isEmpty()
    bench.clear(spark)
    assert jsc.getPersistentRDDs().isEmpty()
    assert cache_manager.isEmpty()


def test_no_subcommand_prints_usage():
    out = subprocess.run([sys.executable, str(PROF)], capture_output=True, text=True, timeout=60)
    assert out.returncode == 2
    assert "usage: python scripts/prof.py" in out.stderr


def test_ab_imports_the_engine_from_each_tree(tmp_path):
    """`ab` runs `--repo TREE time` per tree, and each run's engine is the
    named tree's docker_neo4j_spark, not this checkout's."""
    trees = [tmp_path / "a", tmp_path / "b"]
    for tree in trees:
        for rel, text in _STUB_TREE.items():
            (tree / rel).parent.mkdir(parents=True, exist_ok=True)
            (tree / rel).write_text(text)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1"}
    out = subprocess.run(
        [sys.executable, str(PROF), "ab", str(trees[0]), str(trees[1]), "tiny", "2"],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    for side, tree in zip("AB", trees):
        assert f"{side}: {tree} (engine {tree / 'docker_neo4j_spark' / '__init__.py'})" in out.stdout
    rows = [line.split() for line in out.stdout.splitlines() if line.startswith("tiny")]
    # one row per side: 2 runs, and the same 1 job / 1 stage / 1 task in each
    assert [r[1] for r in rows] == ["A", "B"]
    assert all(r[5].endswith("/2") and r[6] == "1/1/1" and len(r) == 9 for r in rows), out.stdout


_CODELINES = Path(__file__).resolve().parents[1] / "scripts" / "codelines.py"
_cl_spec = importlib.util.spec_from_file_location("codelines", _CODELINES)
codelines = importlib.util.module_from_spec(_cl_spec)
_cl_spec.loader.exec_module(codelines)


def test_codelines_skips_docstrings_comments_and_blank_lines():
    """A line counts when it holds a token other than a comment, a line
    break or an indent change, outside module/class/function docstrings;
    a multi-line string that is not a docstring counts every line."""
    src = (
        '"""Module\n'
        'docstring."""\n'
        "\n"
        "# a comment\n"
        "import os  # trailing comment\n"
        "\n"
        "\n"
        "class C:\n"
        '    """Class docstring."""\n'
        "\n"
        "    def f(self, x):\n"
        '        """Function\n'
        "        docstring.\n"
        '        """\n'
        "        y = (x +\n"
        "             1)\n"
        '        s = """not a\n'
        '        docstring"""\n'
        '        "a bare string after the first statement"\n'
        "        return y, s\n"
    )
    # import, class, def, the two lines of y, both lines of s, the bare
    # string, return
    assert codelines.count(src) == 9
    assert codelines.count("") == 0
    assert codelines.docstring_lines(src) == {1, 2, 9, 12, 13, 14}


def test_plans_normalise_per_run_tokens():
    """Two runs of one tree write the same plan text: expression ids,
    exchange plan_ids and LOAD CSV's temp directory become fixed tokens,
    and everything else is kept."""
    run = (
        "(1) Scan csv\nLocation: InMemoryFileIndex [file:/tmp/graft_loadcsv_{d}/rows.csv]\n"
        "Output [2]: [name#{a}, age#{b}L]\n"
        "Arguments: rangepartitioning(n#{a} ASC NULLS LAST, 32), ENSURE_REQUIREMENTS, "
        "[plan_id={p}]\n[codegen id : 3]\n"
    )
    first = prof.normalise_plan(run.format(d="5l2ejwwt", a=14412, b=7, p=19036))
    second = prof.normalise_plan(run.format(d="q0x_91ab", a=212, b=77, p=16721))
    assert first == second
    assert "#N" in first and "plan_id=N" in first and "graft_loadcsv_X" in first
    assert "[codegen id : 3]" in first and "32), ENSURE_REQUIREMENTS" in first
