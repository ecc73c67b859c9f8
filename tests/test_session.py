"""Engine-session confs that set what a query costs to build."""

from __future__ import annotations

import threading

from oke_cassandra_spark_locality_demo_spark.registry import get


def test_warm_build_py4j_round_trips(spark, sf_dir, monkeypatch):
    """With DataFrame call-site capture off, a builder's Column calls
    make no Py4J round trips of their own: one warm build of q_tpch_q6
    stays under 150 calls from this thread (about 300 with capture on,
    80 without)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    build = get("q_tpch_q6").fn
    build(spark, sf_dir)  # warm: footer schemas are cached from here on
    client = spark._sc._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build(spark, sf_dir)
    monkeypatch.undo()
    assert 0 < calls < 150, calls


def test_repeated_llm_pass_compiles_no_class(spark, sf_dir):
    """The generated-code cache holds a whole pass of the Arrow-kernel
    keys, so running the pass again compiles nothing with Janino. The
    pass needs ~115 classes; at Spark's default of 100 entries (4 Guava
    segments of 25) each key recompiled 10-28 classes on every run.
    q_text_perplexity_bigram stays in the pass to keep the working set
    above the default size, but is not asserted on: its adaptive plans
    may still compile a few new variants in early passes."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    keys = ("q_dedup_simhash", "q_sim_lsh", "q_multimodal_phash", "q_text_perplexity_bigram")

    def compiles(key):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        get(key).fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    for k in keys:
        compiles(k)
    second = {k: compiles(k) for k in keys}
    assert {k: second[k] for k in keys[:3]} == dict.fromkeys(keys[:3], 0), second
