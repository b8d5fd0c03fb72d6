"""Seeded CCSDS input generator and expected-value model.

Two layouts of the same mission:

- ``files``: a backlog of downlink passes, one unframed CCSDS file per pass.
- ``framed``: one long dump with the 0x1ACFFC1D sync marker before every
  packet; a stated share of payloads also carries the marker in its filler
  bytes, so split resync validation has false syncs to reject.

The mission has 8 APIDs with 10 parameters each (an 80-parameter MIB).
Every packet has a 4-byte secondary header holding a big-endian uint32
time. The calibration table has 16 entries, a polynomial and a table per
APID. The JSON configs written next to the data are the ones a
``graft.Cli run`` user passes.

The model (``expect_tidy``/``expect_wide``) is computed here from the
generator's own values, never from the program's output.
"""
import json
import os

import numpy as np

SYNC = bytes.fromhex("1ACFFC1D")
APIDS = [0x100 + i for i in range(8)]
SEC_HDR = 4
# (suffix, byte offset in user data, bit length, type, little endian)
LAYOUT = [
    ("u16a", 0, 16, "uint", False),
    ("u16b", 2, 16, "uint", False),
    ("u16c", 4, 16, "uint", False),
    ("u8a", 6, 8, "uint", False),
    ("u8b", 7, 8, "uint", False),
    ("i16a", 8, 16, "int", False),
    ("i16b", 10, 16, "int", False),
    ("u32a", 12, 32, "uint", False),
    ("f32a", 16, 32, "float", False),
    ("u16le", 20, 16, "uint", True),
]
FIELDS = 22  # bytes of parameters in every packet's user data
FALSE_SYNC_SHARE = 0.01  # framed layout: payloads carrying the marker
WIDE_KEEP = APIDS[2:4]  # framed layout: APIDs the extractor keeps


def filler_len(apid_index):
    return 4 + 2 * apid_index


def param_name(apid, suffix):
    return f"p{apid:03x}_{suffix}"


def mib():
    return [
        {"name": param_name(a, s), "apid": a, "byte_offset": off,
         "bit_length": bits, "param_type": t, "little_endian": le,
         "unit": "count"}
        for a in APIDS for (s, off, bits, t, le) in LAYOUT]


def calibrations():
    out = []
    for i, a in enumerate(APIDS):
        out.append({"parameter_name": param_name(a, "u16a"),
                    "method": "polynomial", "unit": "V",
                    "coefficients": [-1.5 + i, 0.001 * (i + 1), 2.0e-9 * (i + 1)]})
        xs = [0.0, 1000.0 * (i + 1), 20000.0, 40000.0 + 1000.0 * i, 60000.0]
        ys = [-40.0, -10.0 + i, 25.0, 60.0 - i, 120.0]
        out.append({"parameter_name": param_name(a, "u16b"),
                    "method": "table", "unit": "degC",
                    "table_raw": xs, "table_eng": ys})
    return out


def _poly(raw, coeffs):
    # Horner from the highest coefficient, the order calibration uses
    acc = np.full_like(raw, coeffs[-1])
    for c in reversed(coeffs[:-1]):
        acc = acc * raw + c
    return acc


def _table(raw, xs, ys):
    out = np.full_like(raw, ys[-1])
    done = raw <= xs[0]
    out[done] = ys[0]
    for (x0, y0), (x1, y1) in zip(zip(xs, ys), zip(xs[1:], ys[1:])):
        if x1 == x0:
            continue
        hit = ~done & (raw < x1)
        out[hit] = y0 + (raw[hit] - x0) * ((y1 - y0) / (x1 - x0))
        done |= hit
    return out


def calibrate(name, raw):
    for e in calibrations():
        if e["parameter_name"] == name:
            if e["method"] == "polynomial":
                return _poly(raw, e["coefficients"]), e["unit"]
            return _table(raw, e["table_raw"], e["table_eng"]), e["unit"]
    return raw, "count"


def make_packets(rng, n):
    """Packet table: apid index, seq count, time and decoded values."""
    idx = rng.integers(0, len(APIDS), n)
    seq = np.zeros(n, dtype=np.int64)
    for k in range(len(APIDS)):
        m = idx == k
        seq[m] = np.arange(int(m.sum())) % 16384
    # consecutive pairs share a time, so the wide pivot elects winners
    time = 1_000_000 + np.arange(n, dtype=np.int64) // 2
    vals = {
        "u16a": rng.integers(0, 1 << 16, n), "u16b": rng.integers(0, 1 << 16, n),
        "u16c": rng.integers(0, 1 << 16, n), "u8a": rng.integers(0, 256, n),
        "u8b": rng.integers(0, 256, n), "i16a": rng.integers(-(1 << 15), 1 << 15, n),
        "i16b": rng.integers(-(1 << 15), 1 << 15, n),
        "u32a": rng.integers(0, 1 << 32, n, dtype=np.int64),
        # k/8 is exact in float32, so the decode is exact too
        "f32a": rng.integers(-80000, 80000, n) / 8.0,
        "u16le": rng.integers(0, 1 << 16, n),
    }
    return {"apid_idx": idx, "seq": seq, "time": time, "vals": vals}


def encode(p, rng, framed):
    """Byte stream of all packets in order (one pass or the whole dump)."""
    n = len(p["apid_idx"])
    lens = np.array([6 + SEC_HDR + FIELDS + filler_len(k) for k in range(len(APIDS))])
    plen = lens[p["apid_idx"]] + (4 if framed else 0)
    starts = np.concatenate([[0], np.cumsum(plen)[:-1]])
    buf = np.zeros(int(plen.sum()), dtype=np.uint8)
    false_sync = rng.random(n) < FALSE_SYNC_SHARE if framed else np.zeros(n, bool)
    for k, apid in enumerate(APIDS):
        m = np.nonzero(p["apid_idx"] == k)[0]
        if len(m) == 0:
            continue
        rows = np.zeros((len(m), plen[m[0]]), dtype=np.uint8)
        o = 0
        if framed:
            rows[:, :4] = np.frombuffer(SYNC, dtype=np.uint8)
            o = 4
        word0 = (1 << 11) | apid  # version 0, TM, secondary header present
        word1 = (3 << 14) | p["seq"][m]
        dlen = SEC_HDR + FIELDS + filler_len(k) - 1
        rows[:, o] = word0 >> 8
        rows[:, o + 1] = word0 & 0xFF
        rows[:, o + 2] = word1 >> 8
        rows[:, o + 3] = word1 & 0xFF
        rows[:, o + 4] = dlen >> 8
        rows[:, o + 5] = dlen & 0xFF
        rows[:, o + 6:o + 10] = _be(p["time"][m], 4)
        u = o + 10
        for s, off, bits, t, le in LAYOUT:
            v = p["vals"][s][m]
            nb = bits // 8
            if t == "float":
                v = v.astype(">f4").view(">u4").astype(np.int64)
            elif t == "int":
                v = v & ((1 << bits) - 1)
            b = _be(v, nb)
            rows[:, u + off:u + off + nb] = b[:, ::-1] if le else b
        fill = u + FIELDS
        rows[:, fill:] = rng.integers(0, 256, (len(m), filler_len(k)), dtype=np.uint8)
        fs = false_sync[m]
        rows[fs, fill:fill + 4] = np.frombuffer(SYNC, dtype=np.uint8)
        buf[(starts[m][:, None] + np.arange(rows.shape[1])).ravel()] = rows.ravel()
    return buf.tobytes(), int(false_sync.sum())


def _be(v, nb):
    v = np.asarray(v, dtype=np.int64)
    return np.stack([(v >> (8 * (nb - 1 - i))) & 0xFF for i in range(nb)],
                    axis=1).astype(np.uint8)


def expect_tidy(p):
    """Per parameter: rows, sum of raw, sum of calibrated, unit."""
    out = {}
    for k, apid in enumerate(APIDS):
        m = p["apid_idx"] == k
        for s, *_ in LAYOUT:
            name = param_name(apid, s)
            raw = p["vals"][s][m].astype(np.float64)
            eng, unit = calibrate(name, raw)
            out[name] = {"rows": int(m.sum()), "raw_sum": float(raw.sum()),
                         "eng_sum": float(eng.sum()), "unit": unit}
    return out


def expect_wide(p):
    """Rows of the pivot and, per kept parameter, its non-null count and sum.

    Winner per (time, parameter) is the highest (seq_count, value), the
    last-wins rule of the wide export; eng equals raw (no calibration).
    """
    keep = [APIDS.index(a) for a in WIDE_KEEP]
    kept = np.isin(p["apid_idx"], keep)
    times = p["time"][kept]
    out = {"rows": int(len(np.unique(times))), "params": {}}
    for k in keep:
        m = p["apid_idx"] == k
        t, q = p["time"][m], p["seq"][m]
        for s, *_ in LAYOUT:
            v = p["vals"][s][m].astype(np.float64)
            order = np.lexsort((v, q, t))
            ts = t[order]
            last = np.r_[ts[1:] != ts[:-1], True]  # highest (seq, value) per time
            out["params"][param_name(APIDS[k], s)] = {
                "rows": int(last.sum()), "sum": float(v[order][last].sum())}
    return out


def generate(layout, seed, out_dir, packets, passes=1):
    """Write the inputs and configs of one layout; return the model."""
    rng = np.random.default_rng(seed)
    p = make_packets(rng, packets)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    framed = layout == "framed"
    sizes = []
    if framed:
        blob, false_syncs = encode(p, rng, framed=True)
        with open(os.path.join(data, "dump.bin"), "wb") as f:
            f.write(blob)
        sizes.append(len(blob))
    else:
        false_syncs = 0
        bounds = np.linspace(0, packets, passes + 1).astype(int)
        for i in range(passes):
            sl = slice(bounds[i], bounds[i + 1])
            part = {"apid_idx": p["apid_idx"][sl], "seq": p["seq"][sl],
                    "time": p["time"][sl],
                    "vals": {k: v[sl] for k, v in p["vals"].items()}}
            blob, _ = encode(part, rng, framed=False)
            with open(os.path.join(data, f"pass_{i:04d}.bin"), "wb") as f:
                f.write(blob)
            sizes.append(len(blob))
    counts = {str(a): int((p["apid_idx"] == k).sum()) for k, a in enumerate(APIDS)}
    model = {"packets": packets, "false_syncs": false_syncs,
             "packets_per_apid": counts}
    if framed:
        model["kept_packets"] = sum(counts[str(a)] for a in WIDE_KEEP)
        model["wide"] = expect_wide(p)
    else:
        model["tidy"] = expect_tidy(p)
    write_configs(out_dir, layout, data, sizes)
    return model


def write_configs(out_dir, layout, data, sizes):
    framed = layout == "framed"
    ex = {"path": data, "sec_hdr_length": SEC_HDR, "frame_sync": framed}
    if framed:
        # 16 splits: four per core on 4 cores
        ex["split_size"] = max(4096, -(-sum(sizes) // 16))
        ex["apid_filter"] = WIDE_KEEP
    configs = {
        "extractor.json": ex,
        "decom.json": {"parameters": mib()},
        "calibration.json": {"calibrations": calibrations()},
        "loader.json": {"output_dir": os.path.join(out_dir, "out")},
        "wide_params.json": [param_name(a, s) for a in WIDE_KEEP for s, *_ in LAYOUT],
    }
    for name, body in configs.items():
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(body, f)
