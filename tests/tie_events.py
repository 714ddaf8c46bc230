"""Equal-version conflicts for a generated WAL (test input helper).

``generate_wal`` never emits two events with the same
``(commit_seq, event_seq)`` but different content; a real upstream can
(a producer retry that re-renders the row, two connectors on one source).
The replay oracle keeps the first delivery of such a tie, so these copies
pin the engine's arrival tie-break on every resolution path.
"""

import base64
import struct

from ore_etl_spark.datagen.wal import decode_payload_py


def _payload(version: int, content: str) -> str:
    body = content.encode("utf-8")
    return base64.b64encode(struct.pack("<II", version, len(body)) + body).decode()


def add_tie_conflicts(spark, wal, n: int = 15):
    """``wal`` plus, for ``n`` decodable events, two UPDATE copies with the
    same version but different content: one delivered just before the
    original, one just after. Generated ``delivery_seq`` values are
    ``10·c`` (in order), ``10·c + 1`` (late) and ``+5`` (duplicates), so
    ``d - 2`` and ``d + 3`` never collide with an existing event. The first
    delivery's content sorts lowest, so a resolver that breaks ties by row
    content instead of arrival picks the last one."""
    rows = sorted(wal.collect(), key=lambda r: r["delivery_seq"])
    picks = [r for r in rows
             if r["delivery_seq"] % 10 in (0, 1)
             and decode_payload_py(r["payload"]) is not None]
    step = max(1, len(picks) // n)
    copies = []
    for r in picks[::step][:n]:
        version, content = decode_payload_py(r["payload"])
        for tag, shift, text in (("before", -2, content[:-1]),
                                 ("after", 3, content + "~")):
            d = r.asDict()
            d.update(event_id=f"{r['event_id']}:{tag}", op="UPDATE",
                     delivery_seq=r["delivery_seq"] + shift,
                     payload=_payload(version, text))
            copies.append(d)
    extra = spark.createDataFrame([tuple(d[c] for c in wal.columns) for d in copies],
                                  wal.schema)
    return wal.unionByName(extra)
