"""Fast checks of the benchmark's own machinery; no Spark, no server.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import asyncio
import os
import struct
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import pgwire  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402

# ---------------------------------------------------------------------- #
# V3 framing


def _backend(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("!i", len(body) + 4) + body


def _datarow(*cells) -> bytes:
    body = struct.pack("!h", len(cells))
    for c in cells:
        body += struct.pack("!i", -1) if c is None else struct.pack("!i", len(c)) + c
    return _backend(b"D", body)


def _rowdesc(*names) -> bytes:
    body = struct.pack("!h", len(names))
    for n in names:
        body += n + b"\0" + struct.pack("!ihihih", 0, 0, 20, 8, -1, 0)
    return _backend(b"T", body)


RESPONSE = (
    _rowdesc(b"k", b"v")
    + _datarow(b"1", b"one")
    + _datarow(b"2", None)
    + _backend(b"C", b"SELECT 2\0")
    + _backend(b"Z", b"I")
)


def test_startup_message_layout():
    msg = pgwire.startup_message("u", "db")
    (length, proto) = struct.unpack("!ii", msg[:8])
    assert length == len(msg) and proto == 196608
    assert msg[8:] == b"user\0u\0database\0db\0\0"


def test_frontend_frames_carry_their_length():
    q = pgwire.query_message("SELECT 1")
    assert q == b"Q" + struct.pack("!i", 4 + 9) + b"SELECT 1\0"
    b = pgwire.bind_message("s", ["42", None])
    assert b[:1] == b"B" and struct.unpack("!i", b[1:5])[0] == len(b) - 1
    # portal "", stmt "s", 0 param formats, 2 params, 0 result formats
    assert b[5:] == (b"\0s\0" + struct.pack("!hh", 0, 2) + struct.pack("!i", 2) + b"42"
                     + struct.pack("!i", -1) + struct.pack("!h", 0))
    assert pgwire.execute_message() == b"E" + struct.pack("!i", 9) + b"\0" + struct.pack("!i", 0)
    assert pgwire.SYNC == b"S\0\0\0\x04"


def _read(data: bytes, chunk: int, collect: bool = True) -> pgwire.Response:
    async def go():
        reader = asyncio.StreamReader()
        for i in range(0, len(data), chunk):
            reader.feed_data(data[i:i + chunk])
        reader.feed_eof()
        conn = pgwire.Connection(reader, writer=None)
        resp = pgwire.Response()
        await conn._read_until_ready(resp, collect)
        return resp

    return asyncio.run(go())


@pytest.mark.parametrize("chunk", [1, 3, 7, 64, 4096])
def test_response_parsing_is_independent_of_read_boundaries(chunk):
    r = _read(RESPONSE, chunk)
    assert r.columns == [("k", 20), ("v", 20)]
    assert r.rows == [("1", "one"), ("2", None)]
    assert r.nrows == 2 and r.tags == ["SELECT 2"] and r.msgs == 5
    rows = _datarow(b"1", b"one") + _datarow(b"2", None)
    assert r.row_crc == zlib.crc32(rows) and r.row_bytes == len(rows)
    assert r.nbytes == len(RESPONSE)


def test_error_and_copy_out_are_recorded():
    data = (_backend(b"H", b"\0\0\0")
            + _backend(b"d", b"a\tb\nc\td\n")
            + _backend(b"c", b"")
            + _backend(b"C", b"COPY 2\0")
            + _backend(b"E", b"SERROR\0C42601\0Mbad\0\0")
            + _backend(b"Z", b"I"))
    r = _read(data, 5, collect=False)
    assert r.nrows == 2 and r.copy_out_bytes == 8
    assert r.error is not None and r.error.fields["C"] == "42601"


def test_copy_in_response_stops_the_read():
    r = _read(_backend(b"G", b"\0\0\0"), 2)
    assert r.copy_in


# ---------------------------------------------------------------------- #
# tail percentile rule


def test_tail_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 100 samples
    value, pct = stats.tail(xs)
    assert value == 90 and pct == 90.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_falls_back_to_median_when_too_few_samples():
    xs = [5, 1, 4, 2, 3]
    assert stats.tail(xs) == (3.0, 50.0)
    xs = list(range(19))
    assert stats.tail(xs) == (9.0, 50.0)


def test_tail_at_twenty_samples():
    value, pct = stats.tail(list(range(20)))
    assert value == 9 and pct == 50.0


# ---------------------------------------------------------------------- #
# seeded generators


def test_point_ops_are_a_function_of_the_seed():
    sizes = datagen.sizes(0.1)
    a, b = wire.point_ops(7, sizes), wire.point_ops(7, sizes)
    assert a == b and wire.point_ops(8, sizes) != a
    ops = [op for client in a for op in client]
    assert all(0 <= k < sizes["orders"] for _s, k, _e in ops)
    share = sum(e for _s, _k, e in ops) / len(ops)
    assert abs(share - wire.POINT_EXTENDED_SHARE) < 0.02


def test_churn_and_bulk_plans_are_a_function_of_the_seed():
    sizes = datagen.sizes(0.1)
    tables = {"orders": ["o_orderkey"], "nation": ["n_nationkey"]}
    assert wire.plan_churn(3, tables, sizes)["sessions"] == wire.plan_churn(3, tables, sizes)["sessions"]
    assert wire.plan_churn(3, tables, sizes)["sessions"] != wire.plan_churn(4, tables, sizes)["sessions"]
    a, b = wire.plan_bulk(3, sizes, 100), wire.plan_bulk(3, sizes, 100)
    assert a["payload"] == b["payload"] and a["ranges"] == b["ranges"]
    assert a["payload"] != wire.plan_bulk(4, sizes, 100)["payload"]


def test_copy_payload_sum_matches_rows():
    import random

    payload, total = wire.copy_payload(random.Random(1), 500)
    lines = payload.decode().splitlines()
    assert len(lines) == 500
    ids = [int(line.split("\t")[0]) for line in lines]
    assert len(set(ids)) == 500 and sum(ids) == total


def test_generated_tables_are_deterministic():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    li = a["lineitem"]
    per_order = {}
    for k in li.column("l_orderkey").to_pylist():
        per_order[k] = per_order.get(k, 0) + 1
    assert max(per_order.values()) <= 7


# ---------------------------------------------------------------------- #
# span arithmetic


def test_union_merges_overlaps_and_clips():
    assert spans.union_ns([(0, 10), (5, 15), (20, 30)]) == 25
    assert spans.union_ns([(0, 10), (5, 15)], lo=8, hi=12) == 4
    assert spans.union_ns([]) == 0
    assert spans.union_ns([(10, 20)], lo=30, hi=40) == 0


def test_self_time_subtracts_covered_child_time():
    # id, name, t0, t1, parent, stmt
    s = [
        (1, "protocol.server:dispatch", 0, 100, None, (1, 1)),
        (2, "dialect:rewrite_sql", 10, 20, 1, (1, 1)),
        (3, "spark.analyze:sql", 15, 40, 1, (1, 1)),   # overlaps 2
        (4, "spark.execute:fetch", 90, 130, 1, (1, 1)),  # runs past its parent
        (5, "catalog:refresh", 20, 30, 3, (1, 1)),
    ]
    own = spans.self_times(s)
    assert own[1] == 100 - 30 - 10  # [10,40) and [90,100) covered
    assert own[2] == 10 and own[3] == 25 - 10 and own[4] == 40 and own[5] == 10
    layers = spans.layer_self_ns(s)
    assert layers["protocol.server"] == 60 and layers["spark.execute"] == 40
    assert sum(layers.values()) == sum(own.values())


def test_init_spans_move_to_the_statement_that_waited_for_them():
    s = [
        (1, "protocol.server:startup", 0, 5, None, (7, 0)),
        (2, "session:register_tables", 3, 50, 1, (7, 0)),
        (3, "protocol.server:dispatch", 10, 60, None, (7, 1)),
        (4, "session:init_wait", 10, 50, 3, (7, 1)),
    ]
    moved = {x[0]: x for x in spans.reparent_init(s)}
    assert moved[2][4] == 4
    own = spans.self_times(list(moved.values()))
    assert own[4] == 0 and own[1] == 5


def test_tracer_wrap_records_parent_and_statement():
    t = spans.Tracer()

    def inner():
        return 1

    inner_w = t.wrap("dialect:inner", inner)

    def outer():
        return inner_w() + 1

    outer_w = t.wrap("protocol.server:outer", outer)
    with t.span("operators:q", stmt=(0, 9)):
        assert outer_w() == 2
    by_name = {s[1]: s for s in t.spans}
    assert by_name["dialect:inner"][4] == by_name["protocol.server:outer"][0]
    assert by_name["protocol.server:outer"][4] == by_name["operators:q"][0]
    assert all(s[5] == (0, 9) for s in t.spans)
    t.enabled = False
    outer_w()
    assert len(t.spans) == 3


# ---------------------------------------------------------------------- #
# catalog_churn bookkeeping


def test_ddl_visibility_window():
    d = wire._Ddl()
    d.tables["done"] = {"create_sent": 1, "create_done": 2}
    d.tables["inflight"] = {"create_sent": 9, "create_done": 30}
    d.tables["dropped"] = {"create_sent": 1, "create_done": 2, "drop_sent": 3, "drop_done": 4}
    d.tables["future"] = {"create_sent": 40}
    must, must_not = d.expected(t_connect=10, t_listed=20)
    assert must == {"done"} and must_not == {"dropped", "future"}


def test_gate_runs_ddl_and_the_refresh_after_it_alone():
    async def go():
        g = wire._Gate()
        assert await g.enter(False) is False
        assert await g.enter(False) is False
        blocked = asyncio.ensure_future(g.enter(True))
        await asyncio.sleep(0)
        assert not blocked.done()
        await g.leave(False, False)
        await g.leave(False, False)
        assert await blocked is True
        await g.leave(True, ran_ddl=True)
        # the next session opens while a refresh is pending: it runs alone
        assert await g.enter(False) is True
        await g.leave(True, False)
        assert await g.enter(False) is False

    asyncio.run(go())
