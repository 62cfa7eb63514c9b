"""Avro schema resolution — read data written under a WRITER schema into
the shape of a READER schema, per the Avro 1.11 specification's
"Schema Resolution" section (the rules spark-avro's ``avroSchema``
reader option implements JVM-side; reference parity context:
``AvroSchemaSql.scala`` reshapes schemas but never resolves two, so this
is part of the §2.2 surface the reference lacks).

Supported (the spec subset a batch pipeline hits):
 - records matched field-by-field by NAME (reader field ``aliases``
   honored); writer-only fields are decoded and DISCARDED; reader-only
   fields take their ``default`` (error at plan time if absent)
 - primitive promotions: int -> long/float/double, long -> float/double,
   float -> double, string <-> bytes
 - unions on either side: a writer branch resolves against the FIRST
   matching reader branch (spec rule); writer union against a non-union
   reader requires every writer branch to resolve
 - arrays/maps resolve their item/value schemas recursively
 - enums: writer symbols must appear in the reader (or the reader's
   enum ``default`` symbol absorbs them, Avro 1.9+); fixed: same name
   and size

Everything is planned ONCE at schema level (``resolution_plan``) so
incompatibilities fail fast with a path-qualified AvroSqlError before
any byte is decoded; ``compat_report`` walks the same planner and
returns the per-field verdicts as rows instead of raising — the
schema-evolution review a data platform runs before flipping readers.
"""

from __future__ import annotations

from typing import Any

from ..errors import AvroSqlError

PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}

_PRIMITIVES = {
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
}


def _tname(s: Any) -> str:
    """The schema node's type tag ('union' for list nodes)."""
    if isinstance(s, list):
        return "union"
    if isinstance(s, str):
        return s
    t = s.get("type")
    if isinstance(t, (list, dict)):
        return _tname(t)
    return t


def _node(s: Any) -> Any:
    """Unwrap {'type': <list|dict>} indirection to the payload node."""
    if isinstance(s, dict) and isinstance(s.get("type"), (list, dict)):
        return s["type"]
    return s


def _reader_fields(reader: dict) -> dict:
    """Reader record fields by the writer names they claim: each field's
    own name, then its ``aliases`` (spec); an alias never displaces a
    name already claimed."""
    rfields = {f["name"]: f for f in reader["fields"]}
    for f in reader["fields"]:
        for alias in f.get("aliases", ()):
            rfields.setdefault(alias, f)
    return rfields


def resolution_plan(writer: Any, reader: Any, path: str = "$") -> dict:
    """Build the decode plan for (writer, reader); raises AvroSqlError
    with the offending path on any incompatibility."""
    writer, reader = _node(writer), _node(reader)
    wt, rt = _tname(writer), _tname(reader)

    if wt == "union":
        # each writer branch must resolve against the reader
        return {
            "kind": "writer_union",
            "branches": [
                resolution_plan(b, reader, f"{path}<{_tname(b)}>") for b in writer
            ],
        }
    if rt == "union":
        # first reader branch the writer resolves against (spec rule)
        for i, b in enumerate(reader):
            try:
                return {
                    "kind": "reader_union",
                    "index": i,
                    "plan": resolution_plan(writer, b, path),
                }
            except AvroSqlError:
                continue
        raise AvroSqlError(
            f"Schema resolution failed at {path}: writer {wt} matches no "
            f"branch of reader union [{', '.join(_tname(b) for b in reader)}]"
        )

    if wt in _PRIMITIVES:
        if rt == wt:
            return {"kind": "direct"}
        if rt in PROMOTIONS.get(wt, ()):
            return {"kind": "promote", "from": wt, "to": rt}
        raise AvroSqlError(
            f"Schema resolution failed at {path}: writer {wt} cannot be "
            f"read as {rt} (allowed promotions: "
            f"{', '.join(PROMOTIONS.get(wt, ())) or 'none'})"
        )

    if wt != rt:
        raise AvroSqlError(
            f"Schema resolution failed at {path}: writer {wt} vs reader {rt}"
        )

    if wt == "array":
        return {
            "kind": "array",
            "items": resolution_plan(writer["items"], reader["items"], path + "[]"),
        }
    if wt == "map":
        return {
            "kind": "map",
            "values": resolution_plan(writer["values"], reader["values"], path + "{}"),
        }
    if wt == "fixed":
        if writer.get("name") != reader.get("name") or writer.get("size") != reader.get(
            "size"
        ):
            raise AvroSqlError(
                f"Schema resolution failed at {path}: fixed name/size mismatch "
                f"({writer.get('name')}[{writer.get('size')}] vs "
                f"{reader.get('name')}[{reader.get('size')}])"
            )
        return {"kind": "direct"}
    if wt == "enum":
        rsyms = reader["symbols"]
        default = reader.get("default")
        mapping: dict[str, str] = {}
        for sym in writer["symbols"]:
            if sym in rsyms:
                mapping[sym] = sym
            elif default is not None:
                mapping[sym] = default
            else:
                raise AvroSqlError(
                    f"Schema resolution failed at {path}: writer enum symbol "
                    f"'{sym}' absent from reader (and reader has no default)"
                )
        return {"kind": "enum", "mapping": mapping}
    if wt == "record":
        rfields = _reader_fields(reader)
        taken: set[str] = set()
        actions = []
        for wf in writer["fields"]:
            rf = rfields.get(wf["name"])
            if rf is None:
                actions.append(
                    {"kind": "discard", "name": wf["name"], "writer": wf["type"]}
                )
            else:
                taken.add(rf["name"])
                actions.append(
                    {
                        "kind": "keep",
                        "name": rf["name"],
                        "plan": resolution_plan(
                            wf["type"], rf["type"], f"{path}.{wf['name']}"
                        ),
                    }
                )
        defaults = []
        for rf in reader["fields"]:
            if rf["name"] in taken:
                continue
            if "default" not in rf:
                raise AvroSqlError(
                    f"Schema resolution failed at {path}.{rf['name']}: field "
                    "missing from writer and reader declares no default"
                )
            defaults.append({"name": rf["name"], "value": rf["default"]})
        return {"kind": "record", "actions": actions, "defaults": defaults}
    raise AvroSqlError(f"Invalid Avro schema type:{wt}")


def decode_resolved(buf, writer: Any, plan: dict) -> Any:
    """Decode one value written under ``writer`` into the reader shape
    described by ``plan`` (from :func:`resolution_plan` on the SAME
    name-resolved writer schema)."""
    from .avro_io import _block_items, _decode, _read_index, _read_string

    writer = _node(writer)
    kind = plan["kind"]
    if kind == "writer_union":
        idx = _read_index(buf, len(writer), "union", "branch")
        return decode_resolved(buf, writer[idx], plan["branches"][idx])
    if kind == "reader_union":
        return decode_resolved(buf, writer, plan["plan"])
    if kind == "direct":
        return _decode(buf, writer)
    if kind == "promote":
        v = _decode(buf, writer)
        to = plan["to"]
        if to in ("float", "double"):
            return float(v)
        if to == "long":
            return v
        if to == "bytes":
            return v.encode("utf-8")
        if to == "string":
            return v.decode("utf-8")
        raise AvroSqlError(f"Invalid promotion target {to}")
    if kind == "enum":
        symbols = writer["symbols"]
        return plan["mapping"][symbols[_read_index(buf, len(symbols), "enum", "symbol")]]
    if kind == "array":
        return [decode_resolved(buf, writer["items"], plan["items"]) for _ in _block_items(buf)]
    if kind == "map":
        # a dict comprehension evaluates each key before its value
        return {
            _read_string(buf): decode_resolved(buf, writer["values"], plan["values"])
            for _ in _block_items(buf)
        }
    if kind == "record":
        out = {}
        for wf, action in zip(writer["fields"], plan["actions"]):
            if action["kind"] == "discard":
                _decode(buf, wf["type"])  # consume and drop
            else:
                out[action["name"]] = decode_resolved(buf, wf["type"], action["plan"])
        for d in plan["defaults"]:
            out[d["name"]] = d["value"]
        return out
    raise AvroSqlError(f"Invalid resolution plan kind:{kind}")


def compat_report(writer: Any, reader: Any) -> "list[dict]":
    """Field-level schema-evolution verdicts for two RECORD schemas:
    one row per reader/writer field with action in {match, promote,
    reader_default, writer_discarded, incompatible} — the review table
    a platform emits before flipping readers to a new schema version.
    Never raises: incompatibilities become rows."""
    writer, reader = _node(writer), _node(reader)
    if _tname(writer) != "record" or _tname(reader) != "record":
        raise AvroSqlError("compat_report expects two record schemas")
    rows: list[dict] = []
    rfields = _reader_fields(reader)
    taken: set[str] = set()
    for wf in writer["fields"]:
        rf = rfields.get(wf["name"])
        if rf is None:
            rows.append(
                {
                    "field": wf["name"],
                    "action": "writer_discarded",
                    "detail": f"writer-only {_tname(wf['type'])} is read and dropped",
                }
            )
            continue
        taken.add(rf["name"])
        try:
            p = resolution_plan(wf["type"], rf["type"], f"$.{wf['name']}")
        except AvroSqlError as e:
            rows.append(
                {"field": rf["name"], "action": "incompatible", "detail": str(e)}
            )
            continue
        while p["kind"] == "reader_union":
            p = p["plan"]
        if p["kind"] == "promote":
            rows.append(
                {
                    "field": rf["name"],
                    "action": "promote",
                    "detail": f"{p['from']} -> {p['to']}",
                }
            )
        else:
            rows.append({"field": rf["name"], "action": "match", "detail": ""})
    for rf in reader["fields"]:
        if rf["name"] in taken:
            continue
        if "default" in rf:
            rows.append(
                {
                    "field": rf["name"],
                    "action": "reader_default",
                    "detail": f"filled with {rf['default']!r}",
                }
            )
        else:
            rows.append(
                {
                    "field": rf["name"],
                    "action": "incompatible",
                    "detail": "missing from writer and reader declares no default",
                }
            )
    return rows
