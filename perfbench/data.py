"""Inputs of the three workloads, read from the sf0.1 sample in ``inputs/``.

``inputs/`` holds column projections of the repository's sf0.1 tables
(written by ``make_inputs.py``): 150,000 ``orders`` rows dated 1995-01-01
to 2001-08-01, the 2,000 unit-norm 64-d ``embeddings`` and the 5,000
``documents`` (10-100 terms, 54 on average, over a 31-term vocabulary).
The launch rows and payloads are derived from ``orders`` exactly as
``bench.py`` derives them. The seed only chooses among these rows
(which launches are rescheduled, which ids a CDC batch touches, which
query terms); it never invents a value.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs")
DAY_S = 86_400

RAW_SCHEMA = pa.schema(
    [
        ("launch_id", pa.string()),
        ("mission_name", pa.string()),
        ("date_utc", pa.string()),
        ("success", pa.bool_()),
        ("payload_ids", pa.list_(pa.string())),
        ("launchpad_id", pa.string()),
        ("static_fire_date_utc", pa.string()),
    ]
)
PAYLOAD_SCHEMA = pa.schema(
    [("payload_id", pa.string()), ("name", pa.string()), ("mass_kg", pa.float64())]
)


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(INPUTS, f"{name}.parquet"))


def iso(epoch_s: np.ndarray) -> np.ndarray:
    """Unix seconds as ISO-8601 strings with a ``Z`` suffix."""
    return np.char.add(np.datetime_as_string(epoch_s.astype("datetime64[s]"), unit="s"), "Z")


class Launches:
    """Launch rows derived from ``orders`` as parallel numpy columns:
    id = ``o_orderkey``, date = ``o_orderdate``, success = status F /
    O / P as true / false / unknown, launch pad = ``pad-`` +
    ``o_orderpriority``, no static fire, one payload whose mass is
    ``o_totalprice``.

    ``epoch_s`` holds each launch's date as unix seconds; reschedules
    overwrite it, so ``epoch_s`` is always the source's current view."""

    def __init__(self):
        t = _read("orders")
        self.ids = t["o_orderkey"].to_numpy()
        days = t["o_orderdate"].cast(pa.int32()).to_numpy()
        self.epoch_s = days.astype(np.int64) * DAY_S
        status = t["o_orderstatus"].to_numpy(zero_copy_only=False)
        # 0 = success, 1 = failure, 2 = unknown (NULL)
        self.success = np.select([status == "F", status == "O"], [0, 1], 2)
        self.pads = sorted(set(t["o_orderpriority"].to_pylist()))
        prio = t["o_orderpriority"].to_numpy(zero_copy_only=False)
        self.pad = np.searchsorted(np.array(self.pads), prio)
        self.mass = t["o_totalprice"].to_numpy()

    def month_starts(self) -> list[int]:
        """Unix seconds of every month start from the first launch's
        month through the month after the last launch."""
        first = np.datetime64(int(self.epoch_s.min()), "s").astype("datetime64[M]")
        last = np.datetime64(int(self.epoch_s.max()), "s").astype("datetime64[M]")
        months = np.arange(first, last + 2)
        return months.astype("datetime64[s]").astype(np.int64).tolist()

    def raw_table(self, idx: np.ndarray) -> pa.Table:
        """Raw (pre-validation) source rows for the launches at ``idx``,
        in the API's ISO-8601-with-Z string shape."""
        ids = self.ids[idx].astype(str)
        success = self.success[idx]
        return pa.Table.from_arrays(
            [
                pa.array(ids),
                pa.array(np.char.add("Mission-", ids)),
                pa.array(iso(self.epoch_s[idx])),
                pa.array(success == 0, mask=success == 2),
                pa.ListArray.from_arrays(np.arange(len(ids) + 1, dtype=np.int32), pa.array(ids)),
                pa.array(np.char.add("pad-", np.array(self.pads)[self.pad[idx]])),
                pa.nulls(len(ids), pa.string()),
            ],
            schema=RAW_SCHEMA,
        )

    def write_payloads(self, path: str) -> None:
        ids = self.ids.astype(str)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(ids), pa.array(np.char.add("Payload-", ids)), pa.array(self.mass)],
                schema=PAYLOAD_SCHEMA,
            ),
            path,
        )


def embeddings() -> np.ndarray:
    """The 2,000 x 64 sf0.1 embeddings, row ``i`` = ``vec_id`` ``i``."""
    t = _read("embeddings").sort_by("vec_id")
    return np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)


def documents() -> list[str]:
    """The 5,000 sf0.1 document texts, item ``i`` = ``doc_id`` ``i``."""
    return _read("documents").sort_by("doc_id")["text"].to_pylist()
