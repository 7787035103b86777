"""Oracle gate: compare every extracted document with
``oracle.extract_document``.

The comparison runs inside Spark's Python workers (``mapInArrow`` over the
input joined to the output on ``doc_id``), so the single-threaded oracle
uses every core. It is never timed.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa

_KEY = ("kind", "text", "media_ref", "offset")
_RESULT_SCHEMA = "doc_id string, ok boolean, terminal boolean"


def _span_keys(spans) -> list[tuple]:
    return [tuple(s[k] for k in _KEY) for s in spans or []]


def check_batches(batches):
    """mapInArrow body over rows ``(doc_id, spans, out_spans, status, in_,
    out_)``: one ``(doc_id, ok, terminal)`` row per joined row."""
    from mivaa_pdf_extractor_spark.core.constants import TERMINAL_STATUSES
    from mivaa_pdf_extractor_spark.oracle import extract_document

    for b in batches:
        cols = {n: b.column(n).to_pylist() for n in b.schema.names}
        ok, terminal = [], []
        for doc_id, spans, out, status, in_, out_ in zip(
                cols["doc_id"], cols["spans"], cols["out_spans"],
                cols["status"], cols["in_"], cols["out_"]):
            if not (in_ and out_):
                ok.append(False)
            else:
                want = extract_document(doc_id, spans)["spans"]
                ok.append(_span_keys(out) == _span_keys(want))
            terminal.append(status in TERMINAL_STATUSES)
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols["doc_id"], pa.string()), pa.array(ok, pa.bool_()),
             pa.array(terminal, pa.bool_())],
            names=["doc_id", "ok", "terminal"])


@dataclass
class GateResult:
    expected_docs: int
    joined_rows: int
    mismatch_docs: int
    terminal_docs: int

    @property
    def ok(self) -> bool:
        """Every document present once on each side and equal to the
        oracle: a missing document is a mismatch, and a duplicate or extra
        one makes the joined row count differ from ``expected_docs``."""
        return self.mismatch_docs == 0 and \
            self.joined_rows == self.expected_docs


def oracle_gate(inputs, outputs, expected_docs: int) -> GateResult:
    """``inputs``: DataFrame ``(doc_id, spans)`` of ``expected_docs`` rows;
    ``outputs``: DataFrame with at least ``(doc_id, spans, status)``."""
    from pyspark.sql import functions as F

    out = outputs.select("doc_id", F.col("spans").alias("out_spans"),
                         "status", F.lit(True).alias("out_"))
    joined = (inputs.select("doc_id", "spans", F.lit(True).alias("in_"))
              .join(out, "doc_id", "full_outer"))
    row = joined.mapInArrow(check_batches, _RESULT_SCHEMA).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((~F.col("ok")).cast("long")).alias("bad"),
        F.sum(F.col("terminal").cast("long")).alias("terminal")).first()
    return GateResult(expected_docs=expected_docs,
                      joined_rows=int(row["rows"]),
                      mismatch_docs=int(row["bad"] or 0),
                      terminal_docs=int(row["terminal"] or 0))
