"""Count the Spark jobs a call runs, from Spark's status store.

``jobs_of(spark, fn)`` runs ``fn()`` under a fresh job group, waits for
the listener bus to drain, and returns one record per job the call
submitted: its id, its name (Spark's call site, e.g. ``"collect at
<file>.py:<line>"`` for a DataFrame collect, ``"parquet at ..."`` for a
parquet write) and the summed shuffle read/write bytes and task count of
its stages.
"""

from __future__ import annotations

import json
import uuid


def _mapper(sc):
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
    )
    return mapper


def jobs_of(spark, fn) -> list[dict]:
    sc = spark.sparkContext
    gid = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = _mapper(sc)
    jobs = [
        j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
        if j.get("jobGroup") == gid
    ]
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    ))
    out = []
    for j in jobs:
        mine = [st for st in stages if st["stageId"] in set(j.get("stageIds") or ())]
        out.append({
            "job": j["jobId"],
            "name": j.get("name"),
            "tasks": sum(st.get("numTasks") or 0 for st in mine),
            "shuffle_bytes": sum(
                (st.get("shuffleReadBytes") or 0) + (st.get("shuffleWriteBytes") or 0)
                for st in mine
            ),
        })
    return out
