"""Span bookkeeping: a stage is a job-group window that parents the calls
made inside it, on any thread, and closes when the group is cleared."""

import threading

from perfbench.tracing import Tracer


def test_stage_window_parents_calls_and_closes():
    tracer = Tracer()
    groups = []
    set_group = tracer._wrap_job_group(lambda group, desc: groups.append(group))
    root = tracer.open("plans.kg_full")

    set_group("reden-links", "pipeline stage links")
    call = tracer.wrap("checkpointing.shared", lambda: None)
    call()
    worker = threading.Thread(target=call)
    worker.start()
    worker.join()
    set_group("", "")
    tracer.wrap("storage.read_stage", lambda: None)()
    tracer.close(root)

    assert groups == ["reden-links", ""]
    stage = tracer.stage_spans()["links"]
    assert stage["parent"] == root["id"]
    assert stage["end"] >= stage["start"] and stage["py_cpu_s"] >= 0
    shared = [s for s in tracer.spans if s["name"] == "checkpointing.shared"]
    assert [s["parent"] for s in shared] == [stage["id"], stage["id"]]
    after = next(s for s in tracer.spans if s["name"] == "storage.read_stage")
    assert after["parent"] == root["id"]
    assert tracer.total("checkpointing.shared")[1] == 2


def test_curation_groups_name_their_stage():
    tracer = Tracer()
    set_group = tracer._wrap_job_group(lambda group, desc: None)
    set_group("reden-cur-pairs", "curation stage pairs")
    set_group("", "")
    assert set(tracer.stage_spans()) == {"pairs"}
