"""Correctness check of one run's outputs, untimed, once per run.

Where a registered query computes the same rows, the output is compared
with that query's DuckDB oracle (`SparkEntry.oracleSql`) run on the same
generated tables:

- query_mix: each query's cold-iteration output against its own oracle;
- mailing_daily: the exported human and robot CSV rows against
  q153_mailing_pipeline;
- stream_store: the released netting log against q168_stream_netting, and
  the admitted documents against q183_incremental_dedup's admission
  procedure (the workload batches both streams as those queries do).

Everything else (the mailing rejected file, zip and state file) is checked
for consistency with the exported files and, for seeds recorded in
expected.json, against an order-insensitive row-multiset hash.
"""
import glob
import hashlib
import json
import os
import zipfile

import duckdb
import pandas as pd

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")

def canon(df):
    """Order-insensitive hash of a frame's rows, as `tools/selfcheck.py` computes it."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if not isinstance(v, (list, tuple)) and pd.isna(v):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def compare(name, got, want, failures):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        failures.append(f"{name}: columns {gc} != oracle {wc}")
    elif len(got) != len(want):
        failures.append(f"{name}: {len(got)} rows != oracle {len(want)}")
    elif canon(got) != canon(want):
        failures.append(f"{name}: row hash differs from oracle")


def read_csv_dir(path, sep):
    """Rows of every CSV part file under `path`, with hive partition
    columns restored, all values as strings."""
    frames = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.csv"), recursive=True)):
        rel = os.path.relpath(os.path.dirname(f), path)
        with open(f, encoding="utf-8-sig") as fh:
            df = pd.read_csv(fh, sep=sep, dtype=str, keep_default_na=False)
        for part in ([] if rel == "." else rel.split(os.sep)):
            k, v = part.split("=", 1)
            df[k] = v
        frames.append(df)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def br_money(s):
    """Inverse of BrFormats.brMoney: '1.234,56' -> 1234.56."""
    return float(s.replace(".", "").replace(",", ".")) if s else float("nan")


def check_query_mix(con, run_dir, oracle, failures):
    for name, sql in oracle.items():
        path = os.path.join(run_dir, "check", name)
        if not os.path.isdir(path):
            failures.append(f"{name}: no output")
            continue
        compare(name, pd.read_parquet(path), con.execute(sql).df(), failures)
    return len(oracle)


def check_mailing(con, run_dir, oracle, failures, hashes):
    out = os.path.join(run_dir, "out", "mailing")
    want = con.execute(oracle["q153_mailing_pipeline"]).df()
    human = read_csv_dir(os.path.join(out, "human"), ";")
    robot = read_csv_dir(os.path.join(out, "robot"), "|")
    slots = {"BUILDING": "08HRS", "MACHINERY": "08HRS", "HOUSEHOLD": "09HRS", "FURNITURE": "10HRS"}
    cols = {"CPF": "cpf", "NOME_CLIENTE": "nome_cliente", "PRODUTO": "produto",
            "parcelasEmAtrado": "parcelas", "LOCALIDADE": "localidade",
            "valorDivida": "valor_divida", "Cliente_Regulariza": "cliente_regulariza",
            "CONTATO_01": "contato_01", "CONTATO_02": "contato_02", "CONTATO_03": "contato_03",
            "CONTATO_04": "contato_04", "priority_level": "priority_level",
            "segmento": "segmento"}

    def exported(df):
        got = df.rename(columns=cols)[list(cols.values())].copy()
        got["valor_divida"] = got["valor_divida"].map(br_money).round(2)
        return got

    def expected(df):
        e = df[list(cols.values())].copy()
        for c in e.columns:
            if c == "valor_divida":
                e[c] = e[c].astype(float).round(2)
            else:
                e[c] = e[c].map(lambda v: "" if pd.isna(v) else str(v))
        return e

    h_want = expected(want[want["segmento"] == "HUMANO"])
    r_want = want[(want["segmento"] == "ROBO") & want["produto"].isin(list(slots))]
    compare("mailing human", exported(human), h_want, failures)
    got_robot = exported(robot)
    if not robot.empty and (robot["slot"] != robot["PRODUTO"].map(slots)).any():
        failures.append("mailing robot: a row sits in the wrong time slot")
    compare("mailing robot", got_robot, expected(r_want), failures)

    # rejected side-output, zip and state: consistent with the exports
    rejected = read_csv_dir(os.path.join(out, "rejected"), ";")
    if set(rejected.get("CPF", [])) & (set(human.get("CPF", [])) | set(robot.get("CPF", []))):
        failures.append("mailing rejected: a rejected client was exported")
    with zipfile.ZipFile(os.path.join(out, "mailing_human.zip")) as z:
        names = sorted(z.namelist())
    human_dir = os.path.join(out, "human")
    on_disk = sorted(os.path.relpath(os.path.join(base, f), human_dir)
                     for base, _, files in os.walk(human_dir) for f in files)
    if names != on_disk:
        failures.append("mailing zip: entries differ from the human export")
    with open(os.path.join(out, "state.json")) as f:
        state = json.load(f)
    metrics = state.get("last_metrics", {})
    if (state.get("status") != "COMPLETED" or metrics.get("human") != len(human)
            or metrics.get("robot") != len(robot) or metrics.get("zip_entries") != len(names)):
        failures.append(f"mailing state: {state} does not match the exports")
    hashes["rejected"] = canon(rejected)
    hashes["zip_entries"] = str(len(names))
    return 5


def admission_replay(con, q183_sql, batches):
    """Doc ids that q183's oracle admits, over `batches` doc_id-residue
    batches. The oracle's recursive reach ran past 100 s at sf0.01 and past
    5 GB at sf0.1, so its per-round procedure is replayed here on the
    oracle's own signature-agreement edges `mt`: a batch
    document with an edge to an admitted one is rejected; each connected
    component of the remaining batch documents keeps its minimum id."""
    cut = q183_sql.find(",\ne0 AS")
    if cut < 0:
        raise ValueError("q183 oracle shape changed")
    adj = {}
    for x, y in con.execute(q183_sql[:cut] + "\nSELECT x, y FROM mt").fetchall():
        adj.setdefault(int(x), set()).add(int(y))
    ids = [int(r[0]) for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    admitted = set()
    for b in range(batches):
        survivors = {i for i in ids if i % batches == b and not (adj.get(i, set()) & admitted)}
        seen = set()
        for i in sorted(survivors):
            if i in seen:
                continue
            comp, stack = {i}, [i]
            while stack:
                for j in adj.get(stack.pop(), ()):
                    if j in survivors and j not in comp:
                        comp.add(j)
                        stack.append(j)
            seen |= comp
            admitted.add(min(comp))
    return admitted


def check_stream(con, run_dir, oracle, failures, hashes):
    released = pd.read_parquet(os.path.join(run_dir, "check", "released"))
    want = con.execute(oracle["q168_stream_netting"]).df()
    compare("stream released", released[["key", "id", "net_cents"]], want, failures)
    admitted = pd.read_parquet(os.path.join(run_dir, "check", "admitted"))
    ids = [int(i) for i in admitted["doc_id"]]
    expect = admission_replay(con, oracle["q183_incremental_dedup"], 3)
    if len(ids) != len(set(ids)):
        failures.append("stream admitted: a document was admitted twice")
    if set(ids) != expect:
        failures.append(f"stream admitted: {len(set(ids))} ids != oracle {len(expect)} "
                        f"({len(set(ids) - expect)} extra, {len(expect - set(ids))} missing)")
    hashes["admitted"] = canon(admitted)
    return 2


def check(workload, seed, run_dir, input_dir, tables, oracle, record=False):
    """Returns {"checked": n, "failures": [...]}; with `record`, stores the
    recorded-hash outputs of this seed in expected.json."""
    failures = []
    hashes = {}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    gen.duck_views(con, input_dir, tables)
    try:
        if workload == "query_mix":
            n = check_query_mix(con, run_dir, oracle, failures)
        elif workload == "mailing_daily":
            n = check_mailing(con, run_dir, oracle, failures, hashes)
        else:
            n = check_stream(con, run_dir, oracle, failures, hashes)
    except Exception as e:  # a missing or unreadable output is a failed check
        failures.append(f"{workload}: {type(e).__name__}: {e}")
        n = 1
    finally:
        con.close()
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    key = f"{workload}/{seed}"
    if record and not failures:
        expected[key] = hashes
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    elif key in expected:
        for k, v in expected[key].items():
            n += 1
            if hashes.get(k) != v:
                failures.append(f"{workload}: {k} hash differs from the recorded seed-{seed} hash")
    return {"checked": n, "failures": failures}
