"""Minimal TCLIService client: OpenSession, ExecuteStatement, paged
FetchResults, CloseOperation and CloseSession over the Thrift binary
protocol on a raw (``auth=noSasl``) socket.

It is written from the public TCLIService.thrift IDL and the Thrift
binary-protocol spec only, so the served workload keeps measuring the
front through an unchanged client when the server side is rewritten.
Only the column-based TRowSet (protocol V6 and later) is decoded.
"""

from __future__ import annotations

import socket
import struct

T_STOP, T_BOOL, T_BYTE, T_DOUBLE = 0, 2, 3, 4
T_I16, T_I32, T_I64, T_STRING = 6, 8, 10, 11
T_STRUCT, T_MAP, T_SET, T_LIST = 12, 13, 14, 15

_CALL = 0x80010001  # VERSION_1 | message type CALL
_PROTOCOL_V10 = 9
_FETCH_NEXT = 0
_STATUS_ERROR = 3


class TCLIError(RuntimeError):
    """The server answered with an error status."""


class _Buf:
    """Reads one reply from the socket, value by value."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._data = bytearray()
        self._pos = 0

    def take(self, n: int) -> bytes:
        while len(self._data) - self._pos < n:
            chunk = self._sock.recv(1 << 16)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._data += chunk
        out = bytes(self._data[self._pos:self._pos + n])
        self._pos += n
        return out

    def value(self, ttype: int):
        if ttype == T_BOOL or ttype == T_BYTE:
            v = struct.unpack("!b", self.take(1))[0]
            return v != 0 if ttype == T_BOOL else v
        if ttype == T_I16:
            return struct.unpack("!h", self.take(2))[0]
        if ttype == T_I32:
            return struct.unpack("!i", self.take(4))[0]
        if ttype == T_I64:
            return struct.unpack("!q", self.take(8))[0]
        if ttype == T_DOUBLE:
            return struct.unpack("!d", self.take(8))[0]
        if ttype == T_STRING:
            return self.take(self.value(T_I32))
        if ttype == T_STRUCT:
            out = {}
            while True:
                ftype = self.value(T_BYTE)
                if ftype == T_STOP:
                    return out
                fid = self.value(T_I16)
                out[fid] = self.value(ftype)
        if ttype in (T_LIST, T_SET):
            etype = self.value(T_BYTE)
            return [self.value(etype) for _ in range(self.value(T_I32))]
        if ttype == T_MAP:
            ktype, vtype = self.value(T_BYTE), self.value(T_BYTE)
            return {self.value(ktype): self.value(vtype)
                    for _ in range(self.value(T_I32))}
        raise ValueError(f"unsupported thrift type {ttype}")


def _encode(ttype: int, v) -> bytes:
    if ttype == T_BOOL:
        return struct.pack("!b", 1 if v else 0)
    if ttype == T_I16:
        return struct.pack("!h", v)
    if ttype == T_I32:
        return struct.pack("!i", v)
    if ttype == T_I64:
        return struct.pack("!q", v)
    if ttype == T_STRING:
        b = v.encode("utf-8") if isinstance(v, str) else v
        return struct.pack("!i", len(b)) + b
    if ttype == T_STRUCT:
        return _struct(v)
    if ttype == T_MAP:
        ktype, vtype, items = v
        return (struct.pack("!bbi", ktype, vtype, len(items))
                + b"".join(_encode(ktype, k) + _encode(vtype, x)
                           for k, x in items.items()))
    raise ValueError(f"unsupported thrift type {ttype}")


def _struct(fields: list) -> bytes:
    """[(field_id, ttype, value), ...] followed by STOP."""
    return b"".join(struct.pack("!bh", ftype, fid) + _encode(ftype, v)
                    for fid, ftype, v in fields) + b"\x00"


def _decode_columns(columns: list) -> list[tuple]:
    """Column-based TRowSet -> list of row tuples (None for NULL)."""
    decoded = []
    for col in columns:
        (body,) = col.values()  # TColumn is a union: one field set
        values, nulls = body.get(1, []), body.get(2, b"")
        decoded.append([
            None if i // 8 < len(nulls) and nulls[i // 8] >> (i % 8) & 1
            else (v.decode("utf-8") if isinstance(v, bytes) else v)
            for i, v in enumerate(values)
        ])
    return list(zip(*decoded))


class Client:
    """One connection holding one TCLI session."""

    def __init__(self, host: str, port: int, user: str = "perfbench",
                 timeout_s: float = 120.0):
        self._sock = socket.create_connection((host, port), timeout=timeout_s)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._seq = 0
        resp = self._call("OpenSession", [
            (1, T_I32, _PROTOCOL_V10), (2, T_STRING, user),
            (4, T_MAP, (T_STRING, T_STRING, {})),
        ])
        self._session = resp[3]

    def _call(self, method: str, req: list) -> dict:
        self._seq += 1
        name = method.encode()
        msg = (struct.pack("!I", _CALL) + struct.pack("!i", len(name)) + name
               + struct.pack("!i", self._seq) + _struct([(1, T_STRUCT, req)]))
        self._sock.sendall(msg)
        buf = _Buf(self._sock)
        head = struct.unpack("!I", buf.take(4))[0]
        buf.take(buf.value(T_I32))  # method name
        buf.value(T_I32)  # seqid
        if head & 0xFF != 2:  # not a REPLY
            raise TCLIError(f"{method}: thrift exception reply")
        resp = buf.value(T_STRUCT).get(0, {})
        status = resp.get(1, {})
        if status.get(1) == _STATUS_ERROR:
            msg_ = status.get(5, b"").decode("utf-8", "replace")
            raise TCLIError(f"{method}: {msg_}")
        return resp

    def execute(self, statement: str) -> dict:
        """ExecuteStatement (synchronous); returns the operation handle."""
        return self._call("ExecuteStatement", [
            (1, T_STRUCT, _handle(self._session)),
            (2, T_STRING, statement), (4, T_BOOL, False),
        ])[2]

    def fetch(self, op: dict, max_rows: int) -> tuple[list[tuple], bool]:
        """One FetchResults page: (rows, has_more_rows)."""
        resp = self._call("FetchResults", [
            (1, T_STRUCT, _op_handle(op)), (2, T_I32, _FETCH_NEXT),
            (3, T_I64, max_rows),
        ])
        return _decode_columns(resp.get(3, {}).get(3, [])), bool(resp.get(2))

    def close_operation(self, op: dict) -> None:
        self._call("CloseOperation", [(1, T_STRUCT, _op_handle(op))])

    def close(self) -> None:
        try:
            self._call("CloseSession", [(1, T_STRUCT, _handle(self._session))])
        finally:
            self._sock.close()


def _handle(h: dict) -> list:
    ident = h[1]
    return [(1, T_STRUCT, [(1, T_STRING, ident[1]), (2, T_STRING, ident[2])])]


def _op_handle(h: dict) -> list:
    return _handle(h) + [(2, T_I32, h.get(2, 0)), (3, T_BOOL, h.get(3, True))]
