"""Seeded input generation for the benchmark.

Everything the benchmark feeds the program is made here from the run's
seed; the same seed gives byte-identical files. Nothing is read from
outside the working directory the caller names.

* ``write_tables`` -- the ten warehouse tables at sf0.1, with the shapes
  and value ranges of the sf0.1 test data described in TESTDATA.md
  (single-file, single-row-group parquet, ``timestamp[us]`` not adjusted
  to UTC).
* ``write_sensor_corpus`` -- the reference's 18 ``{Room}_{Sensor}.csv``
  headerless TSV files (187,564 data rows), with a few malformed, blank
  and empty-value lines that the ingest path must drop.
* ``Notifications`` -- NGSI-LD notification files for the stream replay.
* ``corrections`` -- a corrections batch for ``merge_upsert``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US_PER_DAY = 86_400_000_000


def _ts_us(days_or_us: np.ndarray) -> pa.Array:
    return pa.array(days_or_us.astype(np.int64), pa.int64()).cast(pa.timestamp("us"))


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve")


def write_tables(out_dir: str, seed: int, names=None) -> None:
    """Write the ten sf0.1 warehouse tables under ``out_dir``. Tables not
    in ``names`` (default: all) are written empty, with their schema, so
    that an oracle over the whole warehouse still binds."""
    os.makedirs(out_dir, exist_ok=True)
    seeds = np.random.SeedSequence(seed).spawn(len(_TABLES))
    for (name, (build, n)), s in zip(_TABLES.items(), seeds):
        size = n if names is None or name in names else 0
        _write(out_dir, name, build(np.random.default_rng(s), size))


def _region(rng, n):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"][:n]
    return {"r_regionkey": pa.array(range(len(names)), pa.int32()),
            "r_name": pa.array(names, pa.string())}


def _nation(rng, n):
    return {"n_nationkey": pa.array(range(n), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32())}


def _customer(rng, n):
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    }


def _supplier(rng, n):
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


def _part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    return {
        "p_partkey": keys,
        "p_name": _choice(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _choice(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
        ),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }


def _days(rng, lo, hi, n):
    d0, d1 = _day_us(*lo), _day_us(*hi)
    return _ts_us(d0 + rng.integers(0, (d1 - d0) // _US_PER_DAY + 1, n) * _US_PER_DAY)


def _orders(rng, n):
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    }


def _lineitem(rng, n):
    return {
        "l_orderkey": rng.integers(0, 150_000, n).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n),
    }


def _events(rng, n):
    t0 = _day_us(2024, 1, 1)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us(np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n))),
        "user_id": rng.integers(0, 1_500, n).astype(np.int64),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 600.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _choice(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)], pa.string())


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents; 5% are near-duplicates of an earlier one
    (one ``dup`` token inserted, sometimes one word dropped)."""
    lengths = rng.integers(9, 99, n)
    texts: list[list[str]] = [list(rng.choice(_WORDS, k)) for k in lengths]
    for i in np.sort(rng.choice(np.arange(1, max(n, 1)), n // 20, replace=False)):
        words = list(texts[int(rng.integers(0, i))])
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        if rng.random() < 0.5:
            del words[int(rng.integers(0, len(words)))]
        texts[i] = words
    text = [" ".join(w) for w in texts]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n,
                                    p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


# name -> (builder, rows at sf0.1), in a fixed order (it fixes the seeds)
_TABLES = {
    "region": (_region, 5), "nation": (_nation, 25), "customer": (_customer, 15_000),
    "supplier": (_supplier, 1_000), "part": (_part, 20_000),
    "orders": (_orders, 150_000), "lineitem": (_lineitem, 600_000),
    "events": (_events, 100_000), "documents": (_documents, 5_000),
    "embeddings": (_embeddings, 2_000),
}


# --- sensor corpus -------------------------------------------------------

ROOMS = ("Kitchen", "Room1", "Room2", "Room3", "Bathroom", "Toilet")
SENSORS = ("Temperature", "Humidity", "Brightness")
# Row counts per sensor of the reference's Measurements/ corpus (FIXTURES.md).
_SENSOR_ROWS = {"Temperature": 62_479, "Humidity": 60_456, "Brightness": 64_629}
_EPOCH_LO, _EPOCH_HI = 1_489_017_377, 1_496_721_982


def _sensor_values(rng, sensor: str, n: int) -> list[str]:
    if sensor == "Temperature":
        v = np.clip(rng.normal(19.2, 2.0, n), 14.33, 26.14)
        return [f"{x:.2f}" for x in v]
    if sensor == "Humidity":
        v = np.clip(np.round(rng.normal(51.4, 12.0, n)), 26, 98)
        return [str(int(x)) for x in v]
    v = np.where(rng.random(n) < 0.5, 0.0,
                 np.minimum(rng.exponential(190.0, n), 1739.56))
    return [f"{x:.2f}" for x in v]


@dataclass
class SensorCorpus:
    glob: str
    raw_rows: int  # every non-blank line written, malformed ones included
    raw_bytes: int
    # (room lower-case, sensor lower-case, epoch_s, value text) of each valid row
    rows: list[tuple[str, str, int, str]]


def write_sensor_corpus(out_dir: str, seed: int) -> SensorCorpus:
    """The 18 TSV files. Epochs are distinct within a room across its
    three sensors, so the ingest's ``{room}_{timestamp}`` entity key is
    unique per row."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    counts = {
        s: rng.multinomial(n - 600, [1 / 6] * 6) + 100 for s, n in _SENSOR_ROWS.items()
    }
    rows: list[tuple[str, str, int, str]] = []
    raw_rows = raw_bytes = 0
    for r, room in enumerate(ROOMS):
        need = sum(int(counts[s][r]) for s in SENSORS)
        epochs = np.unique(rng.integers(_EPOCH_LO, _EPOCH_HI + 1, need * 2))
        epochs = rng.permutation(epochs)[:need]
        start = 0
        for sensor in SENSORS:
            k = int(counts[sensor][r])
            ep = np.sort(epochs[start:start + k])
            start += k
            vals = _sensor_values(rng, sensor, k)
            lines = [f"{e}\t{v}" for e, v in zip(ep.tolist(), vals)]
            rows.extend((room.lower(), sensor.lower(), e, v)
                        for e, v in zip(ep.tolist(), vals))
            # rows the ingest must drop: wrong field count, junk, empty value
            bad = [f"{ep[0]}\t1.0\textra", "not-a-row", f"{ep[-1]}\t", ""]
            for b in bad:
                lines.insert(int(rng.integers(0, len(lines) + 1)), b)
            body = "\n".join(lines) + "\n"
            path = os.path.join(out_dir, f"{room}_{sensor}.csv")
            with open(path, "w") as f:
                f.write(body)
            raw_rows += sum(1 for line in lines if line)
            raw_bytes += len(body)
    return SensorCorpus(os.path.join(out_dir, "*.csv"), raw_rows, raw_bytes, rows)


def corrections(rng, written, share: float = 0.02):
    """Change the reading of ``share`` of the rows of the ``written`` frame,
    keeping key, room and ``ts`` (the merge's version column), so every
    update lands in a partition that already holds its key."""
    picked = np.sort(rng.choice(len(written), max(1, int(len(written) * share)), replace=False))
    fixes = written.iloc[picked].copy()
    t = fixes["temperature"].notna()
    h = fixes["humidity"].notna() & ~t
    b = ~(t | h)
    fixes.loc[t, "temperature"] = (fixes.loc[t, "temperature"] + 0.5).round(2)
    fixes.loc[h, "humidity"] += 1
    fixes.loc[b, "brightness"] = (fixes.loc[b, "brightness"] + 10.0).round(2)
    return fixes


# --- notification files ----------------------------------------------------


class Notifications:
    """NGSI-LD notification files, each with ``per_file`` entity updates
    whose ids name the file, so a landed row tells which file it came
    from."""

    def __init__(self, seed: int, n_files: int, per_file: int, tag: str):
        self.n_files, self.per_file, self.tag = n_files, per_file, tag
        self._rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
        # (entityid, room, temperature, humidity, brightness) per entity
        self.expected: list[tuple[str, str, float, int, float]] = []
        self._bodies = [self._make(i) for i in range(n_files)]

    def _make(self, i: int) -> str:
        rng = self._rng
        data = []
        for j in range(self.per_file):
            room = ROOMS[int(rng.integers(0, len(ROOMS)))]
            eid = f"urn:ngsi-ld:{room}:{self.tag}-{i:05d}-{j:03d}"
            t = round(float(rng.normal(19.2, 2.0)), 2)
            h = int(rng.integers(26, 99))
            b = round(float(rng.exponential(190.0)), 2)
            at = f"2017-03-09T{(i // 60) % 24:02d}:{i % 60:02d}:{j % 60:02d}.000Z"
            data.append({
                "id": eid,
                "type": room,
                "temperature": {"type": "Property", "value": t, "observedAt": at},
                "humidity": {"type": "Property", "value": h, "observedAt": at},
                "brightness": {"type": "Property", "value": b, "observedAt": at},
            })
            self.expected.append((eid, room.lower(), t, h, b))
        return json.dumps({
            "id": f"urn:ngsi-ld:Notification:{self.tag}-{i:05d}",
            "type": "Notification",
            "subscriptionId": "urn:ngsi-ld:Subscription:SensorUpdates",
            "data": data,
        })

    @staticmethod
    def file_of(entityid: str) -> int:
        return int(entityid.rsplit(":", 1)[1].split("-")[1])

    def name(self, i: int) -> str:
        return f"{self.tag}-{i:05d}.json"

    def drop(self, i: int, staging: str, in_dir: str) -> None:
        """Write file ``i`` beside the watched directory, then rename it
        in, so the stream never lists a half-written file."""
        tmp = os.path.join(staging, self.name(i))
        with open(tmp, "w") as f:
            f.write(self._bodies[i])
        os.rename(tmp, os.path.join(in_dir, self.name(i)))
