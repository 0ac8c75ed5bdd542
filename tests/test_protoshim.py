"""Wire-format pins for the vendored protobuf shim (proto3 subset).

The shim (vendor/protoshim) is what lets transformWithStateInPandas run
in this container; the JVM is the other end of the conversation, so the
encoding must match the public proto3 wire spec exactly. These tests pin
the byte layout directly (varint/tag/length-delimited golden vectors)
and the generated-message semantics Spark's state clients rely on
(kwarg construction, auto-vivified submessage presence, oneof members,
repeated response fields, unknown-field skip). The end-to-end proof is
tests/test_streaming.py::test_mutation_cache_transform_with_state,
which runs the real engine path against RocksDB.
"""

from __future__ import annotations

import pytest

from cdc_apache_cassandra_spark.streaming.protoshim import ensure_protobuf

MODE = ensure_protobuf()


def _sm():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_varint_spec_goldens():
    if MODE != "shim":
        pytest.skip("real protobuf installed; shim internals not loaded")
    from google.protobuf.message_impl import read_varint, write_varint

    cases = {
        0: b"\x00",
        1: b"\x01",
        127: b"\x7f",
        128: b"\x80\x01",
        300: b"\xac\x02",  # the canonical spec example
        -1: b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01",  # two's complement
    }
    for n, expect in cases.items():
        out = bytearray()
        write_varint(out, n)
        assert bytes(out) == expect, n
        back, pos = read_varint(bytes(out), 0)
        assert pos == len(expect)
        assert back == (n & (2**64 - 1))


def test_request_wire_layout_golden():
    """StateCallCommand{stateName:'seen', ttl{durationMs:123456}} inside
    the StatefulProcessorCall/StateRequest oneof chain — hand-derived
    byte layout per the proto3 spec."""
    sm = _sm()
    cmd = sm.StateCallCommand()
    cmd.stateName = "seen"
    cmd.ttl.durationMs = 123456
    inner = cmd.SerializeToString()
    # field1 (stateName) tag 0x0a len 4 'seen'; field4 (ttl) tag 0x22
    # len 4: field1 varint 123456 = 0xc0 0xc4 0x07
    assert inner == bytes.fromhex("0a047365656e220408c0c407")
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(getValueState=cmd)
    )
    blob = req.SerializeToString()
    # StateRequest field2 wraps StatefulProcessorCall field2 wraps inner
    assert blob == bytes.fromhex("120e120c") + inner


def test_response_roundtrip_and_unknown_field_skip():
    sm = _sm()
    resp = sm.StateResponse(statusCode=0, errorMessage="", value=b"xy")
    b = resp.SerializeToString()
    # proto3 implicit presence: zero statusCode and empty errorMessage
    # are NOT serialized; only value survives
    assert b == bytes.fromhex("1a027879")
    r2 = sm.StateResponse()
    # prepend an unknown field (number 9, varint) — parser must skip it
    r2.ParseFromString(bytes.fromhex("4807") + b)
    assert (r2.statusCode, r2.errorMessage, r2.value) == (0, "", b"xy")


def test_repeated_message_parse():
    """StateResponseWithTimer carries repeated TimerInfo — the shape the
    client iterates for expiry timers."""
    sm = _sm()
    t1 = sm.TimerInfo(timestampMs=5)
    t2 = sm.TimerInfo(key=b"k", timestampMs=6)
    payload = bytearray()
    for t in (t1, t2):
        tb = t.SerializeToString()
        payload += bytes([0x1A, len(tb)]) + tb  # field 3, wt 2
    r = sm.StateResponseWithTimer()
    r.ParseFromString(bytes(payload))
    got = [(t.key if t.HasField("key") else None, t.timestampMs) for t in r.timer]
    assert got == [(None, 5), (b"k", 6)]


def test_oneof_member_serializes_even_when_default():
    """Oneof members have explicit presence: TimerInfo.key=b'' (empty,
    the scalar default) must still hit the wire — that is how proto3
    distinguishes 'no key' from 'empty key'."""
    sm = _sm()
    t = sm.TimerInfo(key=b"", timestampMs=0)
    assert t.SerializeToString() == bytes.fromhex("0a00")


def test_untouched_autovivified_submessage_stays_absent():
    sm = _sm()
    cmd = sm.StateCallCommand()
    cmd.stateName = "x"
    _ = cmd.ttl  # read, never modify
    assert not cmd.HasField("ttl")
    assert cmd.SerializeToString() == bytes.fromhex("0a0178")
    cmd.ttl.durationMs = 1
    assert cmd.HasField("ttl")


def test_shim_never_shadows_real_protobuf():
    import google.protobuf as gp

    if MODE == "native":
        assert "protoshim" not in (gp.__file__ or "")
    else:
        assert "protoshim" in gp.__file__


def test_oneof_set_clears_siblings():
    """ADVICE r3: setting a oneof member must CLEAR its siblings — a
    reused StateRequest that first sets statefulProcessorCall and then
    stateVariableRequest serializes ONLY the latter (protobuf oneof
    semantics; otherwise the receiver's last-wins resolution follows
    field-number order, not set order)."""
    sm = _sm()
    req = sm.StateRequest()
    req.statefulProcessorCall.setHandleState.state = 1
    assert req.HasField("statefulProcessorCall")
    req.stateVariableRequest.valueStateCall.stateName = "s"
    assert req.HasField("stateVariableRequest")
    assert not req.HasField("statefulProcessorCall")
    wire = req.SerializeToString()
    # re-parse: only the last-set member survives
    back = sm.StateRequest()
    back.ParseFromString(wire)
    assert back.HasField("stateVariableRequest")
    assert not back.HasField("statefulProcessorCall")


def test_detached_oneof_child_cannot_corrupt_parent():
    """A caller still holding a cleared oneof member (an orphan) must not
    re-mark the parent present by mutating it: real protobuf leaves the
    parent untouched when a detached child changes. Before the fix, the
    orphan's promote callback survived the clear, marked the parent
    present with NO value entry, and the message serialized to b''."""
    sm = _sm()
    req = sm.StateRequest()
    orphan = req.statefulProcessorCall  # read access creates the child
    req.stateVariableRequest.valueStateCall.stateName = "s"  # clears sibling
    orphan.setHandleState.state = 1  # mutating the orphan: no effect on req
    assert req.HasField("stateVariableRequest")
    assert not req.HasField("statefulProcessorCall")
    wire = req.SerializeToString()
    assert wire != b""
    back = sm.StateRequest()
    back.ParseFromString(wire)
    assert back.HasField("stateVariableRequest")
