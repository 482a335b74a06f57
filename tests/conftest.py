from __future__ import annotations

import json
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="crawler_spark_tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(tmp_path_factory):
    """Deterministic synthetic web corpus (dir + oracle manifest)."""
    from crawler_spark.synthgen import generate_corpus

    out = tmp_path_factory.mktemp("corpus")
    manifest = generate_corpus(str(out), n_pages=400, seed=42)
    return {"dir": str(out), "manifest": manifest}


@pytest.fixture(scope="session")
def corpus_dir(corpus):
    return corpus["dir"]


def plan_nodes_of_job_group(spark, group: str) -> list[tuple[str, str]]:
    """(name, description) of every plan node of the SQL executions that
    ran a job in job group ``group``, read back from the driver's
    in-process status store (works with the UI disabled). A node appears
    once per execution it was planned in."""
    sc = spark.sparkContext
    jvm = sc._jvm
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for ex in json.loads(mapper.writeValueAsString(store.executionsList())):
        if job_ids & {int(j) for j in ex["jobs"]}:
            graph = json.loads(mapper.writeValueAsString(store.planGraph(ex["executionId"])))
            nodes += [(n["name"], n["desc"]) for n in graph["allNodes"]]
    return nodes


@pytest.fixture
def in_job_group(spark):
    """Run ``fn()`` under a fresh job group; returns (result, plan nodes
    of the SQL executions it ran on this thread)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-group-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, plan_nodes_of_job_group(spark, group)

    return run
