"""Seeded loan-CSV generator in the FIXTURES.md section A shape.

One call writes a header + data CSV and returns the values `runEtl` must
produce for it, computed from the rows as written:

- every timestamp format the pipeline parses (`yyyy-MM-dd HH:mm:ss`,
  `MM/dd/yyyy HH:mm:ss`, `dd-MM-yyyy HH:mm:ss`) plus unparseable and empty
  timestamps;
- nulls in every column and one null-majority column (`remarks`) whose
  mode is null, so its fill is a no-op;
- a near-unique `loan_id`, and ragged rows (short rows are null-padded,
  long rows truncated by Spark's PERMISSIVE CSV parser);
- every other column has a strictly unique top count, so the per-column,
  unpivot and Aggregator mode-fill shapes cannot differ on a tie-break.

Expected values: the insights document (`total_loans`, `avg_loan_amount`,
`by_loan_type`), the per-column non-null counts of the cleaned output,
including the parsed `date` and `time` columns, and for every column with
a non-null mode the number of output rows equal to that mode (its own
rows plus the filled nulls), so a fill with any other value shows.
"""

import collections
import datetime
import hashlib
import json

import numpy as np

FORMATS = ("%Y-%m-%d %H:%M:%S", "%m/%d/%Y %H:%M:%S", "%d-%m-%Y %H:%M:%S")
BAD_TS = ("n/a", "pending", "2024/13/45 25:61:00", "not-a-date", "99-99-9999 10:00:00")
LOAN_TYPES = ("personal", "mortgage", "auto", "student", "business", "home_equity", "medical")
PURPOSES = ("debt", "home", "car", "school", "medical", "travel", "wedding", "moving",
            "energy", "boat", "vacation", "other")
STATES = tuple("AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN MS MO "
               "MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV WI WY".split())
REMARKS = tuple(f"remark_{i:02d}" for i in range(20))
EPOCH = datetime.datetime(2020, 1, 1)
# high-cardinality columns get few nulls, so their (forced) mode stays a
# small group instead of outgrowing the null group
NULL_SHARE = {"remarks": 0.7, "id": 0.0005, "ts": 0.002, "amount": 0.002, "int_hi": 0.002,
              "rate": 0.002, "score": 0.002, "income": 0.002, "dti": 0.002, "ltv": 0.002,
              "fee": 0.002, "payments": 0.002, "years": 0.002}
SPAN_S = 4 * 365 * 86400

# column name -> kind; `wide` uses all 25, `tall` the first four + remarks
WIDE = (
    ("loan_id", "id"), ("timestamp", "ts"), ("loan_amount", "amount"), ("loan_type", "type"),
    ("customer_id", "int_hi"), ("branch", "branch"), ("term_months", "term"),
    ("interest_rate", "rate"), ("credit_score", "score"), ("annual_income", "income"),
    ("employment_years", "years"), ("purpose", "purpose"), ("grade", "grade"),
    ("state", "state"), ("officer", "officer"), ("status", "status"), ("dti", "dti"),
    ("ltv", "ltv"), ("channel", "channel"), ("currency", "currency"),
    ("collateral", "collateral"), ("co_signer", "bool"), ("origination_fee", "fee"),
    ("num_payments", "payments"), ("remarks", "remarks"),
)
TALL = tuple(c for c in WIDE if c[0] in ("loan_id", "timestamp", "loan_amount", "loan_type", "remarks"))
SHAPES = {"wide": WIDE, "tall": TALL}


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p)
    return [values[i] for i in idx]


def _zipf_p(k, s=1.1):
    w = 1.0 / np.arange(1, k + 1) ** s
    return w / w.sum()


def _column(kind, rng, n):
    """Raw non-null text values for one column, as they appear in the CSV."""
    if kind == "id":
        # near-unique: ~0.5% of rows reuse an earlier id once
        ids = [f"LN{i:09d}" for i in range(n)]
        for i in rng.choice(n, size=max(1, n // 200), replace=False):
            ids[i] = ids[int(rng.integers(0, n))]
        return ids
    if kind == "ts":
        iso = np.datetime_as_string(
            np.datetime64(EPOCH, "s") + rng.integers(0, SPAN_S, size=n).astype("timedelta64[s]"))
        fmt = rng.integers(0, 3, size=n)
        # iso is yyyy-mm-ddThh:mm:ss; re-slice it into the three FORMATS
        return [(t[:10] if f == 0 else
                 t[5:7] + "/" + t[8:10] + "/" + t[:4] if f == 1 else
                 t[8:10] + "-" + t[5:7] + "-" + t[:4]) + " " + t[11:]
                for t, f in zip(iso.tolist(), fmt.tolist())]
    if kind == "amount":
        return [f"{v / 100:.2f}" for v in rng.integers(50_000, 5_000_000, size=n)]
    if kind == "type":
        return _pick(rng, LOAN_TYPES, n, _zipf_p(len(LOAN_TYPES), 0.8))
    if kind == "int_hi":
        return [str(v) for v in rng.integers(0, max(2, n // 5), size=n)]
    if kind == "branch":
        return _pick(rng, [f"BR{i:03d}" for i in range(50)], n, _zipf_p(50, 0.7))
    if kind == "term":
        return _pick(rng, ("12", "24", "36", "48", "60", "72", "84", "120", "180", "360"), n,
                     _zipf_p(10, 0.9))
    if kind == "rate":
        return [f"{v / 100:.2f}" for v in rng.integers(200, 2500, size=n)]
    if kind == "score":
        return [str(v) for v in rng.integers(300, 851, size=n)]
    if kind == "income":
        return [f"{v * 500:.1f}" for v in rng.integers(20, 600, size=n)]
    if kind == "years":
        return [str(v) for v in rng.integers(0, 41, size=n)]
    if kind == "purpose":
        return _pick(rng, PURPOSES, n, _zipf_p(len(PURPOSES)))
    if kind == "grade":
        return _pick(rng, tuple("ABCDEFG"), n, _zipf_p(7, 0.6))
    if kind == "state":
        return _pick(rng, STATES, n, _zipf_p(len(STATES), 0.5))
    if kind == "officer":
        return _pick(rng, [f"officer_{i:03d}" for i in range(300)], n, _zipf_p(300, 0.4))
    if kind == "status":
        return _pick(rng, ("current", "paid", "late", "default", "charged_off"), n, _zipf_p(5))
    if kind == "dti":
        return [f"{v / 10:.1f}" for v in rng.integers(0, 600, size=n)]
    if kind == "ltv":
        return [f"{v / 10:.1f}" for v in rng.integers(200, 1200, size=n)]
    if kind == "channel":
        return _pick(rng, ("web", "branch", "phone", "broker"), n, _zipf_p(4))
    if kind == "currency":
        return _pick(rng, ("USD", "EUR", "GBP"), n, _zipf_p(3, 2.0))
    if kind == "collateral":
        return _pick(rng, ("none", "car", "house", "savings", "stock", "boat", "land", "gold"), n,
                     _zipf_p(8))
    if kind == "bool":
        return _pick(rng, ("true", "false"), n, (0.35, 0.65))
    if kind == "fee":
        return [f"{v:.1f}" for v in rng.integers(0, 2000, size=n) / 2]
    if kind == "payments":
        return [str(v) for v in rng.integers(0, 361, size=n)]
    if kind == "remarks":
        return _pick(rng, REMARKS, n)
    raise ValueError(kind)


def _parse_ts(text):
    for f in FORMATS:
        try:
            return datetime.datetime.strptime(text, f)
        except ValueError:
            pass
    return None


def _counts(values):
    c = collections.Counter(values)
    c.pop(None, None)
    return c


def _force_unique_top(values, rng, nulls, mode=None):
    """Make `mode` (default: the most frequent non-null value) strictly more
    frequent than any other value and than the null group, by rewriting
    non-null cells that hold other values. Returns the mode."""
    c = _counts(values)
    if mode is None:
        mode = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    rest = max((k for v, k in c.items() if v != mode), default=0)
    need = max(rest, nulls) + 1 - c[mode]
    if need > 0:
        others = [i for i, v in enumerate(values) if v is not None and v != mode]
        for i in rng.choice(len(others), size=need, replace=False):
            values[others[i]] = mode
    return mode


def generate(path, shape, rows, seed):
    """Write the CSV at `path` and return its expected ETL results."""
    cols = SHAPES[shape]
    rng = np.random.default_rng([seed, len(cols), rows])
    n = rows
    data = {}
    for name, kind in cols:
        vals = _column(kind, rng, n)
        null_share = NULL_SHARE.get(kind, 0.05)
        nulls = np.flatnonzero(rng.random(n) < null_share)
        if len(nulls) < 2:  # every column has nulls, whatever the size
            nulls = rng.choice(n, size=2, replace=False)
        for i in nulls:
            vals[i] = None
        if kind == "ts":
            for i in rng.choice(n, size=max(5, n // 500), replace=False):
                vals[i] = BAD_TS[int(rng.integers(0, len(BAD_TS)))]
        data[name] = vals
    names = [c[0] for c in cols]
    # ragged rows: ~0.5% short (trailing fields missing -> null), ~0.5% long
    width = np.full(n, len(names))
    short = rng.choice(n, size=max(2, n // 200), replace=False)
    width[short] = rng.integers(1, len(names), size=len(short))
    long_rows = set(int(i) for i in rng.choice(n, size=max(2, n // 200), replace=False)) - set(
        int(i) for i in short)
    for i in short:
        for name in names[int(width[i]):]:
            data[name][i] = None
    modes = {}
    for name, kind in cols:
        nulls = sum(v is None for v in data[name])
        if kind == "remarks":
            # null-majority: strictly more nulls than any value -> mode is null
            assert nulls > max(_counts(data[name]).values())
            modes[name] = None
        elif kind == "ts":
            # a parseable mode, so filled timestamps reach `date`
            first_ok = next(v for v in data[name] if v is not None and v not in BAD_TS)
            modes[name] = _force_unique_top(data[name], rng, nulls, first_ok)
        else:
            modes[name] = _force_unique_top(data[name], rng, nulls)
    lines = [",".join(names)]
    for i in range(n):
        cells = ["" if data[c][i] is None else data[c][i] for c in names[: int(width[i])]]
        if i in long_rows:
            cells += ["EXTRA", "FIELDS"]
        lines.append(",".join(cells))
    body = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(body)
    return _expected(cols, data, modes, n, len(body), hashlib.sha256(body).hexdigest())


def _expected(cols, data, modes, n, nbytes, digest):
    filled = {}
    for name, _ in cols:
        m = modes[name]
        filled[name] = data[name] if m is None else [m if v is None else v for v in data[name]]
    nonnull = {name: sum(v is not None for v in vals) for name, vals in filled.items()}
    # every generated value has one text form, so text equality here is
    # value equality in the typed output
    mode_counts = {name: filled[name].count(m) for name, m in modes.items() if m is not None}
    # generated timestamps parse and BAD_TS values do not; both are checked
    # once here rather than by parsing every row
    assert all(_parse_ts(b) is None for b in BAD_TS)
    assert _parse_ts(modes["timestamp"]) is not None
    parsed = sum(v is not None and v not in BAD_TS for v in filled["timestamp"])
    nonnull["date"] = parsed
    nonnull["time"] = parsed
    amounts = [float(v) for v in filled["loan_amount"] if v is not None]
    by_type = sorted(_counts(filled["loan_type"]).items(), key=lambda kv: (-kv[1], kv[0]))
    nulls_type = sum(v is None for v in filled["loan_type"])
    recs = ([{"loan_type": None, "count": nulls_type}] if nulls_type else []) + [
        {"loan_type": k, "count": c} for k, c in by_type]
    recs.sort(key=lambda r: (-r["count"], r["loan_type"] is not None, r["loan_type"] or ""))
    return {
        "rows": n,
        "columns": len(cols),
        "bytes": nbytes,
        "sha256": digest,
        "modes": modes,
        "insights": {
            "total_loans": n,
            "avg_loan_amount": sum(amounts) / len(amounts),
            "by_loan_type": recs,
        },
        "nonnull": nonnull,
        "mode_counts": mode_counts,
    }


def write_modes(path, modes):
    """The non-null modes as `column<TAB>value` lines, for the JVM side."""
    with open(path, "w") as f:
        f.writelines(f"{c}\t{m}\n" for c, m in sorted(modes.items()) if m is not None)


if __name__ == "__main__":
    import sys

    out, shape, rows, seed = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    print(json.dumps(generate(out, shape, rows, seed), indent=1))
