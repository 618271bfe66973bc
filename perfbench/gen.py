"""Seeded input generators for the four benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, writes its files under a directory it is given and returns a
``Truth``: the input size plus everything the output checks need
(planted duplicate/junk/fill counts, the exact surviving records,
expected attribute values, exact neighbours). Generation is never timed.

Nothing here imports the engine: the checks compare the engine's outputs
against values computed from these generators alone.
"""

from __future__ import annotations

import hashlib
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_START_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
DAY_US = 86_400_000_000
GRANULE_OVERLAP_S = 10
FILL_SENTINEL = -9999.0
# sub-step phase of every record inside its cadence slot; jitter stays
# well inside the slot so floor and nearest-slot bucketing agree
RECORD_PHASE = 0.37
RECORD_JITTER = 0.05


@dataclass
class Truth:
    """What a workload's generator planted, for the output checks."""

    files: list[str]
    input_records: int
    input_bytes: int
    facts: dict = field(default_factory=dict)


def _dir_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


# ---------------------------------------------------------------------------
# time-series day (shared by granule_day and nc_day_parity)
# ---------------------------------------------------------------------------


@dataclass
class Day:
    """One UTC day of records on a ``hz`` cadence, cut into granules.

    Record ``k`` belongs to cadence slot ``k``; its id column ``seq`` is
    ``k``. Granules overlap their predecessor by ``GRANULE_OVERLAP_S`` so
    the overlap rows are exact duplicates of earlier rows.
    """

    hz: int
    n_granules: int
    t_us: np.ndarray  # per slot: record time (0 = junk epoch)
    present: np.ndarray  # per slot: record emitted at all
    sentinel: np.ndarray  # per slot: flux carries the fill sentinel
    granule_slots: list[np.ndarray]  # per granule: emitted slot ids
    attrs: dict[str, list]  # per granule attribute columns

    @property
    def n_slots(self) -> int:
        return len(self.t_us)

    @property
    def step_us(self) -> int:
        return 1_000_000 // self.hz


def make_day(rng: np.random.Generator, hz: int, n_granules: int) -> Day:
    n = 86_400 * hz
    step = 1_000_000 // hz
    k = np.arange(n, dtype=np.int64)
    jitter = rng.uniform(-RECORD_JITTER, RECORD_JITTER, n)
    t_us = DAY_START_US + k * step + ((RECORD_PHASE + jitter) * step).astype(
        np.int64
    )
    present = rng.random(n) >= 0.02  # 2% dropped records
    # a few multi-second outages, away from the day's first granule
    for _ in range(4):
        length = int(rng.integers(3, 30)) * hz
        start = int(rng.integers(n // 50, n - length - hz))
        present[start : start + length] = False
    present[0] = True  # the first record anchors the data-phase grid
    junk = (rng.random(n) < 0.001) & present  # 0.1% epoch-0 timestamps
    junk[0] = False
    t_us[junk] = 0
    sentinel = (rng.random(n) < 0.01) & present & ~junk  # 1% fill values

    per = n // n_granules
    over = GRANULE_OVERLAP_S * hz
    granule_slots = []
    for g in range(n_granules):
        lo = max(0, g * per - over)
        hi = n if g == n_granules - 1 else (g + 1) * per
        s = np.arange(lo, hi, dtype=np.int64)
        granule_slots.append(s[present[lo:hi]])
    modes = ["SCAN", "SCAN, CAL", "STARE", "CAL"]
    attrs = {
        "orbit": [1000 + g for g in range(n_granules)],
        "orbit_end": [1000 + g for g in range(n_granules)],
        "n_events": [int(v) for v in rng.integers(0, 10, n_granules)],
        "mode": [modes[int(i)] for i in rng.integers(0, 4, n_granules)],
        "platform": ["G16"] * n_granules,
    }
    return Day(hz, n_granules, t_us, present, sentinel, granule_slots, attrs)


ATTRIBUTE_STRATEGIES = {
    "orbit": "first",
    "orbit_end": "last",
    "mode": "unique_list",
    "n_events": "int_sum",
    "platform": "constant",
}


def flux_of(seq: np.ndarray) -> np.ndarray:
    return np.sin(seq.astype(np.float64) * 1e-3).astype(np.float32)


def vec3_of(seq: np.ndarray) -> np.ndarray:
    s = seq.astype(np.float32)
    return np.stack([s * 0.5, (seq % 7).astype(np.float32), -s], axis=1)


def day_facts(day: Day, names: list[str]) -> dict:
    """Expected output of a day build: surviving record ids, planted
    counts and the attribute values computed with numpy."""
    emitted = np.concatenate(day.granule_slots)
    junk_rows = int((day.t_us[emitted] == 0).sum())
    valid = day.present & (day.t_us != 0)
    survivors = np.flatnonzero(valid)
    dup_rows = len(emitted) - junk_rows - len(survivors)
    # file order: first index value (junk rows included, as the engine's
    # manifest orders raw granules), file name as tiebreak
    first_t = [int(day.t_us[s].min()) for s in day.granule_slots]
    order = sorted(range(day.n_granules), key=lambda g: (first_t[g], names[g]))
    a = day.attrs
    modes: list[str] = []
    for g in order:
        for m in a["mode"][g].split(", "):
            if m not in modes:
                modes.append(m)
    return {
        "n_slots": day.n_slots,
        "step_us": day.step_us,
        "time_us": day.t_us,
        "survivor_seq": survivors,
        "fill_slots": day.n_slots - len(survivors),
        "duplicate_rows": dup_rows,
        "junk_rows": junk_rows,
        "sentinel_survivors": int(day.sentinel[survivors].sum()),
        "attributes": {
            "orbit": a["orbit"][order[0]],
            "orbit_end": a["orbit_end"][order[-1]],
            "mode": ", ".join(modes),
            "n_events": int(np.sum(a["n_events"])),
            "platform": "G16",
        },
    }


# ---------------------------------------------------------------------------
# granule_day: five-minute Parquet granules
# ---------------------------------------------------------------------------


def granule_day(rng: np.random.Generator, out_dir: str, hz: int) -> Truth:
    day = make_day(rng, hz, n_granules=288)
    os.makedirs(out_dir, exist_ok=True)
    files, names = [], []
    for g, slots in enumerate(day.granule_slots):
        flux = flux_of(slots)
        flux[day.sentinel[slots]] = FILL_SENTINEL
        vec = vec3_of(slots)
        n = len(slots)
        table = pa.table(
            {
                "time": pa.array(day.t_us[slots], pa.timestamp("us", tz="UTC")),
                "seq": pa.array(slots, pa.int64()),
                "flux": pa.array(flux, pa.float32()),
                "vec3": pa.FixedSizeListArray.from_arrays(
                    pa.array(vec.reshape(-1), pa.float32()), 3
                ).cast(pa.list_(pa.float32())),
                **{
                    c: pa.array([day.attrs[c][g]] * n)
                    for c in ATTRIBUTE_STRATEGIES
                },
            }
        )
        name = f"granule_{g:03d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(table, path, compression="snappy")
        files.append(path)
        names.append(name)
    facts = day_facts(day, names)
    facts["hz"] = hz
    return Truth(
        files=files,
        input_records=sum(len(s) for s in day.granule_slots),
        input_bytes=_dir_bytes(files),
        facts=facts,
    )


# ---------------------------------------------------------------------------
# nc_day_parity: classic NetCDF-3 (CDF-2) granules with CF time units
# ---------------------------------------------------------------------------

_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 10, 11, 12
_NC_CHAR, _NC_INT, _NC_FLOAT, _NC_DOUBLE = 2, 4, 5, 6
CF_UNITS = "seconds since 1970-01-01"


def _nc_name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\0" * (-len(b) % 4)


def _nc_text_attrs(attrs: dict[str, str]) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)
    out = struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))
    for k, v in attrs.items():
        b = v.encode()
        out += _nc_name(k) + struct.pack(">ii", _NC_CHAR, len(b))
        out += b + b"\0" * (-len(b) % 4)
    return out


def write_classic_nc(path: str, records: np.ndarray, layout: list) -> None:
    """Write a 64-bit-offset classic NetCDF file holding only record
    variables. ``records`` is a packed big-endian structured array (one
    element per record, fields in file order); ``layout`` lists
    ``(name, nc_type, extra_dims, attrs)`` per field, where extra_dims
    are ``(dim_name, size)`` trailing fixed dimensions."""
    dims = [("time", 0)]
    for _, _, extra, _ in layout:
        for d in extra:
            if d not in dims:
                dims.append(d)
    dim_id = {name: i for i, (name, _) in enumerate(dims)}
    head = b"CDF\x02" + struct.pack(">i", len(records))
    head += struct.pack(">ii", _NC_DIMENSION, len(dims))
    for name, size in dims:
        head += _nc_name(name) + struct.pack(">i", size)
    head += struct.pack(">ii", 0, 0)  # no global attributes

    def var_list(begin: int) -> bytes:
        out = struct.pack(">ii", _NC_VARIABLE, len(layout))
        for name, nc_type, extra, attrs in layout:
            ids = [0] + [dim_id[d[0]] for d in extra]
            vsize = records.dtype.fields[name][0].itemsize
            out += _nc_name(name) + struct.pack(">i", len(ids))
            out += struct.pack(f">{len(ids)}i", *ids)
            out += _nc_text_attrs(attrs)
            out += struct.pack(">iiq", nc_type, vsize, begin)
            begin += vsize
        return out

    size = len(head) + len(var_list(0))
    with open(path, "wb") as f:
        f.write(head + var_list(size))
        f.write(records.tobytes())


def nc_day_parity(rng: np.random.Generator, out_dir: str, hz: int) -> Truth:
    day = make_day(rng, hz, n_granules=96)
    os.makedirs(out_dir, exist_ok=True)
    dtype = np.dtype(
        [
            ("time", ">f8"),
            ("seq", ">i4"),
            ("flux", ">f4"),
            ("vec3", ">f4", (3,)),
            ("orbit", ">i4"),
            ("orbit_end", ">i4"),
            ("n_events", ">i4"),
            ("mode", "S12"),
            ("platform", "S4"),
        ]
    )
    layout = [
        ("time", _NC_DOUBLE, [], {"units": CF_UNITS}),
        ("seq", _NC_INT, [], {}),
        ("flux", _NC_FLOAT, [], {}),
        ("vec3", _NC_FLOAT, [("three", 3)], {}),
        ("orbit", _NC_INT, [], {}),
        ("orbit_end", _NC_INT, [], {}),
        ("n_events", _NC_INT, [], {}),
        ("mode", _NC_CHAR, [("mode_len", 12)], {}),
        ("platform", _NC_CHAR, [("platform_len", 4)], {}),
    ]
    files, names = [], []
    for g, slots in enumerate(day.granule_slots):
        rec = np.zeros(len(slots), dtype)
        rec["time"] = day.t_us[slots] / 1e6
        rec["seq"] = slots
        flux = flux_of(slots)
        flux[day.sentinel[slots]] = FILL_SENTINEL
        rec["flux"] = flux
        rec["vec3"] = vec3_of(slots)
        for c in ("orbit", "orbit_end", "n_events"):
            rec[c] = day.attrs[c][g]
        rec["mode"] = day.attrs["mode"][g].encode()
        rec["platform"] = b"G16"
        name = f"granule_{g:03d}.nc"
        path = os.path.join(out_dir, name)
        write_classic_nc(path, rec, layout)
        files.append(path)
        names.append(name)
    facts = day_facts(day, names)
    facts["hz"] = hz
    return Truth(
        files=files,
        input_records=sum(len(s) for s in day.granule_slots),
        input_bytes=_dir_bytes(files),
        facts=facts,
    )


# ---------------------------------------------------------------------------
# corpus_near_dedup: Zipf text with one-token-edit copy chains
# ---------------------------------------------------------------------------

VOCAB = 50_000
ZIPF_S = 1.1
DOC_TOKENS = 120
COPY_SHARE = 0.15


def token_hash(word: str) -> int:
    """60-bit token hash: the first 15 hex digits of the word's md5."""
    return int(hashlib.md5(word.encode()).hexdigest()[:15], 16)


def simhash_py(text: str) -> int:
    """Pure-Python 32-bit SimHash over whitespace tokens: each token
    occurrence votes +1/-1 per bit of its hash; a bit is set when its
    vote is positive."""
    votes = [0] * 32
    for tok in text.split():
        h = token_hash(tok)
        for j in range(32):
            votes[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(32) if votes[j] > 0)


def corpus_near_dedup(
    rng: np.random.Generator, out_dir: str, n_docs: int
) -> Truth:
    words = np.array([f"w{i}" for i in range(VOCAB)])
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(k)), VOCAB - 1)

    docs: list[np.ndarray] = []
    copies = 0
    for d in range(n_docs):
        if d > 0 and rng.random() < COPY_SHARE:
            # one-token edit of any earlier doc, copies included
            doc = docs[int(rng.integers(0, d))].copy()
            doc[int(rng.integers(0, len(doc)))] = draw(1)[0]
            copies += 1
        else:
            doc = draw(int(rng.integers(DOC_TOKENS - 20, DOC_TOKENS + 21)))
        docs.append(doc)
    texts = [" ".join(words[d]) for d in docs]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(np.arange(n_docs), pa.int64()), "text": texts}
        ),
        path,
    )

    # SimHash in numpy from per-word hashes (the oracle for the engine's
    # signatures; simhash_py spot-checks this vectorisation)
    hashes = np.array([token_hash(w) for w in words], dtype=np.int64)
    bits = ((hashes[:, None] >> np.arange(32)) & 1).astype(np.int8) * 2 - 1
    sigs = np.zeros(n_docs, dtype=np.int64)
    for d, doc in enumerate(docs):
        votes = bits[doc].sum(axis=0, dtype=np.int64)
        sigs[d] = int(np.sum((votes > 0).astype(np.int64) << np.arange(32)))
    return Truth(
        files=[path],
        input_records=n_docs,
        input_bytes=os.path.getsize(path),
        facts={"texts": texts, "simhash": sigs, "copies": copies},
    )


# ---------------------------------------------------------------------------
# ann_ivf: Gaussian-cluster vectors plus a held-out query batch
# ---------------------------------------------------------------------------

QUERY_ID_BASE = 10_000_000


def ann_ivf(
    rng: np.random.Generator, out_dir: str, n_vectors: int, n_queries: int,
    dim: int, n_clusters: int,
) -> Truth:
    centers = rng.normal(size=(n_clusters, dim))
    pick = rng.integers(0, n_clusters, n_vectors + n_queries)
    x = (centers[pick] + 0.35 * rng.normal(size=(len(pick), dim))).astype(
        np.float64
    )
    corpus, queries = x[:n_vectors], x[n_vectors:]
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, ids: np.ndarray, vecs: np.ndarray) -> str:
        path = os.path.join(out_dir, name)
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float64()), dim
        ).cast(pa.list_(pa.float64()))
        pq.write_table(
            pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}),
            path,
        )
        return path

    c_path = write("corpus.parquet", np.arange(n_vectors), corpus)
    q_ids = QUERY_ID_BASE + np.arange(n_queries)
    q_path = write("queries.parquet", q_ids, queries)
    return Truth(
        files=[c_path, q_path],
        input_records=n_vectors,
        input_bytes=_dir_bytes([c_path, q_path]),
        facts={"corpus": corpus, "queries": queries, "query_ids": q_ids},
    )
