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
