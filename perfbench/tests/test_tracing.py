import pytest

import tracing
from tracing import Span


def _span(sid, parent, start, end, name="x"):
    return Span(name, start, end, sid, parent, "op")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: union 1..5
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped to 8..10
        _span(4, 1, 1.5, 2.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(0.5)


def test_self_times_sum_to_the_root_duration_without_overlap():
    spans = [_span(0, None, 0, 6), _span(1, 0, 0, 2), _span(2, 0, 2, 5), _span(3, 2, 3, 4)]
    assert sum(tracing.self_times(spans).values()) == pytest.approx(6)


def test_tracer_records_parents_and_operation_ids():
    tr = tracing.Tracer()
    with tr.span("outer", "op1"):
        with tr.span("inner", "op1", layer="a") as inner:
            pass
    with tr.span("next", "op2"):
        pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].span_id
    assert by_name["outer"].parent is None and by_name["next"].parent is None
    assert inner.attrs == {"layer": "a"}
    assert by_name["next"].op_id == "op2"
    assert by_name["outer"].start <= by_name["inner"].start <= by_name["inner"].end


class _Client:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True):
        self.sent.append(command)
        return "ok"


class _Spark:
    def __init__(self, client):
        gateway = type("G", (), {"_gateway_client": client})()
        self.sparkContext = type("SC", (), {"_gateway": gateway})()


def test_py4j_counter_skips_proxy_releases_and_uninstalls():
    client = _Client()
    counter = tracing.Py4jCounter(_Spark(client))
    assert client.send_command("c\no1\nfoo\ne\n") == "ok"
    client.send_command("m\nd\no7\ne\n")
    client.send_command("r\nu\nx\ne\n", retry=False)
    assert counter.count == 2 and len(client.sent) == 3
    counter.uninstall()
    client.send_command("c\no1\nbar\ne\n")
    assert counter.count == 2


def test_tracer_counts_round_trips_per_span():
    client = _Client()
    tr = tracing.Tracer(tracing.Py4jCounter(_Spark(client)))
    with tr.span("outer", "op"):
        client.send_command("c\n")
        with tr.span("inner", "op"):
            client.send_command("c\n")
            client.send_command("m\nd\no1\ne\n")
    by_name = {s.name: s.attrs["py4j"] for s in tr.spans}
    assert by_name == {"outer": 2, "inner": 1}
