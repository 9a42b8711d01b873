"""Columnar / data-lake file explode — parquet, ORC, Arrow IPC, Avro.

Reference bar: enhance_csv.py:205-253 turns tabular sidecar files
into one child document per row with typed shadows (``<col>_t`` text,
``<col>_f`` float); the sqlite and dbf tiers (sources/explode.py)
extend that contract to databases.  This module extends it to the
data-lake formats a 100-TB corpus actually ships rows in: parquet
(``PAR1``), ORC (``ORC`` head + ``ORC`` postscript-tail magic),
Arrow IPC / feather (``ARROW1\\0\\0``) via pyarrow, and Avro
object-container files (``Obj\\x01``) via the native reader in
operators/avroio.py (pyarrow carries no Avro codec).

Child-row contract is the sqlite tier's exactly (one Exchange-free
``posexplode`` per source row, same struct schema):
``<id>#<kind>#<rownum>``, ``page_i`` = rownum, ``table_s`` = kind,
``fields``/``numbers`` typed shadows.  Scalars shadow like sqlite
(_sqlite_rows): numerics into ``_f`` directly, text through the CSV
float-parse fallback, bytes as hex; nested values (arrow structs /
lists, avro arrays / maps) render as compact JSON in ``_t`` only.

Corrupt / truncated / unsupported payloads yield ZERO children (the
tier-wide degrade rule — never half a table).  Parquet rows stream
through ``iter_batches`` so a million-row file stops at the cap
without materializing; ORC reads stripe-by-stripe for the same
reason.  At 100 TB these per-row payloads arrive pre-bounded by the
container byte budgets (explode.py); the row caps here bound the
expansion side.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from open_semantic_etl_spark.sources.explode import (
    SQLITE_CHILD_TYPE,
    SQLITE_MAX_ROWS_TOTAL,
    explode_rows,
)

__all__ = ["explode_columnar", "columnar_kind"]

COLUMNAR_MAX_ROWS = SQLITE_MAX_ROWS_TOTAL


def columnar_kind(data: bytes) -> str | None:
    """magic → kind, or None.  ORC's and parquet's ASCII head magics
    alone would match prose ("ORCHESTRA…", "PAR1 zone…"), so each
    format's tail magic (ORC postscript / parquet footer) gates
    them too — same rule as the htmlx sniff."""
    if data[:4] == b"PAR1" and len(data) >= 12 and data[-4:] == b"PAR1":
        return "parquet"
    if data[:8] == b"ARROW1\x00\x00":
        return "feather"
    if data[:4] == b"Obj\x01":
        return "avro"
    if data[:3] == b"ORC" and len(data) >= 8 and data[-4:-1] == b"ORC":
        return "orc"
    return None


def _shadow(val) -> tuple[str | None, float | None]:
    """one cell → (_t text, _f float-or-None) per the CSV contract."""
    if isinstance(val, bool):
        return str(val), float(val)
    if isinstance(val, bytes):
        return val.hex(), None
    if isinstance(val, (int, float)):
        return str(val), float(val)
    if isinstance(val, (list, dict)):
        return json.dumps(val, separators=(",", ":"), default=str), None
    text = str(val)
    try:  # TEXT that reads as a number — CSV parity
        return text, float(text.replace(",", "."))
    except ValueError:
        return text, None


def _rows_of(data: bytes, kind: str):
    """payload → iterator of plain-dict rows (column order preserved)."""
    import pyarrow as pa

    if kind == "avro":
        from open_semantic_etl_spark.operators.avroio import read_avro

        _, rows = read_avro(data, max_rows=COLUMNAR_MAX_ROWS)
        for row in rows:
            yield row if isinstance(row, dict) else {"value": row}
        return
    if kind == "parquet":
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(pa.BufferReader(data))
        seen = 0
        for batch in pf.iter_batches(batch_size=8192):
            for row in batch.to_pylist():
                if seen >= COLUMNAR_MAX_ROWS:
                    return
                seen += 1
                yield row
        return
    if kind == "orc":
        from pyarrow import orc

        f = orc.ORCFile(pa.BufferReader(data))
        seen = 0
        for i in range(f.nstripes):
            for row in f.read_stripe(i).to_pylist():
                if seen >= COLUMNAR_MAX_ROWS:
                    return
                seen += 1
                yield row
        return
    if kind == "feather":
        import pyarrow.ipc as ipc

        rd = ipc.open_file(pa.BufferReader(data))
        seen = 0
        for i in range(rd.num_record_batches):
            for row in rd.get_batch(i).to_pylist():
                if seen >= COLUMNAR_MAX_ROWS:
                    return
                seen += 1
                yield row
        return
    raise ValueError("unknown columnar kind %r" % kind)


def _columnar_rows(data: bytes, base_id: str) -> list[dict]:
    kind = columnar_kind(data)
    if kind is None:
        return []
    out: list[dict] = []
    for rn, row in enumerate(_rows_of(data, kind), start=1):
        fields: dict[str, str] = {}
        numbers: dict[str, float] = {}
        for cname, val in row.items():
            if val is None:
                continue
            t, f = _shadow(val)
            fields[f"{cname}_t"] = t
            if f is not None:
                numbers[f"{cname}_f"] = f
        out.append(
            {
                "child_id": f"{base_id}#{kind}#{rn}",
                "page_i": rn,
                "container_s": base_id,
                "table_s": kind,
                "fields": fields,
                "numbers": numbers,
            }
        )
    return out


def explode_columnar(df: DataFrame) -> DataFrame:
    """parquet/ORC/feather/avro rows → one child row per data row
    (sqlite-tier contract); corrupt payloads yield zero children."""
    return explode_rows(df, _columnar_rows, SQLITE_CHILD_TYPE)
