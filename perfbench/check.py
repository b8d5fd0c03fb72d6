"""Read a sink's output back with DuckDB and compare it to the model.

Runs outside the timed region. Returns the mismatches plus what the sink
wrote: data files, their bytes and the samples they hold (tidy rows, or
non-null parameter cells of the wide table).
"""
import glob
import os

import duckdb


def _close(a, b, rel=1e-9):
    return a == b or abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def data_files(out_dir):
    return [p for p in glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                                 recursive=True)
            if not os.path.basename(p).startswith((".", "_"))]


def check(model, out_dir, observed):
    files = data_files(out_dir)
    res = {"errors": [], "files": len(files),
           "bytes": sum(os.path.getsize(p) for p in files), "samples": 0}
    if not files:
        res["errors"].append(f"no parquet written under {out_dir}")
        return res
    con = duckdb.connect()
    if "tidy" in model:
        _tidy(con, model, files, observed, res)
    else:
        _wide(con, model, files, observed, res)
    con.close()
    return res


def _tidy(con, model, files, observed, res):
    err = res["errors"]
    got = {r[0]: r[1:] for r in con.execute(
        "SELECT name, count(*), sum(raw_value), sum(eng_value), "
        "min(unit), max(unit) FROM read_parquet(?, hive_partitioning = true) "
        "GROUP BY name", [files]).fetchall()}
    exp = model["tidy"]
    if set(got) != set(exp):
        err.append(f"parameters {sorted(set(got) ^ set(exp))[:5]} differ")
    for name, e in exp.items():
        if name not in got:
            continue
        rows, raw, eng, umin, umax = got[name]
        if rows != e["rows"] or raw != e["raw_sum"]:
            err.append(f"{name}: rows/raw {rows}/{raw} != {e['rows']}/{e['raw_sum']}")
        if not _close(eng, e["eng_sum"]):
            err.append(f"{name}: calibrated sum {eng} != {e['eng_sum']}")
        if umin != e["unit"] or umax != e["unit"]:
            err.append(f"{name}: unit {umin}..{umax} != {e['unit']}")
    res["samples"] = sum(g[0] for g in got.values())
    _observed(err, observed, model["packets"], sum(e["rows"] for e in exp.values()))


def _wide(con, model, files, observed, res):
    err = res["errors"]
    exp = model["wide"]
    names = sorted(exp["params"])
    cols = ", ".join(f'count("{n}"), sum("{n}")' for n in names)
    row = con.execute(
        f"SELECT count(*), count(DISTINCT time_tai), {cols} "
        "FROM read_parquet(?)", [files]).fetchone()
    if row[0] != exp["rows"] or row[1] != exp["rows"]:
        err.append(f"wide rows {row[0]} (distinct times {row[1]}) != {exp['rows']}")
    for i, n in enumerate(names):
        cnt, total = row[2 + 2 * i], row[3 + 2 * i]
        e = exp["params"][n]
        if cnt != e["rows"] or total != e["sum"]:
            err.append(f"{n}: count/sum {cnt}/{total} != {e['rows']}/{e['sum']}")
    res["samples"] = sum(row[2 + 2 * i] for i in range(len(names)))
    _observed(err, observed, model["kept_packets"], exp["rows"])


def _observed(err, observed, packets_in, rows_loaded):
    """Pipeline.run's observed counts must agree with the model too."""
    if observed.get("extract") != packets_in:
        err.append(f"observed extract rows {observed.get('extract')} != {packets_in}")
    if observed.get("load") != rows_loaded:
        err.append(f"observed loaded rows {observed.get('load')} != {rows_loaded}")
