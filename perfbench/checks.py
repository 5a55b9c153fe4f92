"""Output checks made apart from the program. Each returns
(mismatches, info): the number of wrong items in the output (0 when
correct) and a one-line description. The benchmark counts a mismatch
as a failed operation.
"""
import collections
import hashlib
import json
import os

import pandas as pd

WIRE_FIELDS = ("step", "type", "amount", "nameOrig", "oldbalanceOrg",
               "newbalanceOrig", "nameDest", "oldbalanceDest",
               "newbalanceDest", "isFraud", "isFlaggedFraud")
NUMERIC = ("step", "amount", "oldbalanceOrg", "newbalanceOrig",
           "oldbalanceDest", "newbalanceDest")
BOUNDARY = 1e-9


def margin(row, model):
    """Logistic margin of one wire row, computed from the fitted
    parameters: type index (unseen types take the last index), one-hot
    without the last category, the six numeric columns, standardised
    by the scaler's mean and std (a zero std gives 0), then the LR
    coefficients and intercept."""
    labels, mean, std = model["labels"], model["mean"], model["std"]
    n_onehot = len(mean) - len(NUMERIC)
    t = row["type"]
    idx = labels.index(t) if t in labels else len(labels)
    x = [1.0 if i == idx else 0.0 for i in range(n_onehot)]
    x += [float(row[c]) if row[c] is not None else float("nan")
          for c in NUMERIC]
    z = [(v - m) / s if s != 0 else 0.0 for v, m, s in zip(x, mean, std)]
    return sum(c * v for c, v in zip(model["coef"], z)) + model["intercept"]


def _key(row):
    return tuple(row[f] for f in WIRE_FIELDS)


def check_fraud(sent_rows, alert_rows, model, scored):
    """Every sent record scored once, and the alerts equal, as a
    multiset, the sent records with a positive margin. Records within
    BOUNDARY of the decision boundary are counted, not compared."""
    expected, boundary = collections.Counter(), set()
    for r in sent_rows:
        m = margin(r, model)
        if abs(m) <= BOUNDARY:
            boundary.add(_key(r))
        elif m > 0:
            expected[_key(r)] += 1
    got = collections.Counter(_key(a) for a in alert_rows
                              if _key(a) not in boundary)
    wrong = sum(((expected - got) + (got - expected)).values())
    wrong += abs(scored - len(sent_rows))
    return wrong, (f"{len(sent_rows)} sent, {scored} scored, "
                   f"{sum(expected.values())} alerts expected, "
                   f"{sum(got.values())} written, {len(boundary)} on the "
                   f"boundary, {wrong} wrong")


def interval_join(cash_outs, payments, hours=2):
    """CASH_OUT x PAYMENT pairs with the same nameDest and the payment
    within `hours` steps before (or at) the cash-out step."""
    by_dest = collections.defaultdict(list)
    for p in payments:
        by_dest[p["nameDest"]].append(p)
    pairs = collections.Counter()
    for c in cash_outs:
        for p in by_dest.get(c["nameDest"], ()):
            if c["step"] - hours <= p["step"] <= c["step"]:
                pairs[(c["nameDest"], c["step"], c["amount"],
                       p["step"], p["amount"])] += 1
    return pairs


def check_join(sent, pairs):
    """The emitted pairs equal, as a multiset, the interval join of the
    rows sent, and there is at least one pair. `sent` holds
    (source, row) with source 0 for CASH_OUT and 1 for PAYMENT."""
    expected = interval_join([r for s, r in sent if s == 0],
                             [r for s, r in sent if s == 1])
    got = collections.Counter(tuple(p) for p in pairs)
    wrong = sum(((expected - got) + (got - expected)).values())
    if not expected:
        wrong += 1
    return wrong, (f"{sum(expected.values())} pairs expected, "
                   f"{sum(got.values())} emitted, {wrong} wrong")


def canon(df):
    """tools/check_correctness.py's canonical form: columns sorted by
    name, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_hash(df):
    """Hash of a frame in canonical form: column names, dtypes and
    every value, exactly."""
    df = canon(df)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(t)] for c, t in df.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def check_queries(out_dir, queries, expected):
    """Each query's output (a parquet directory per query) hashes to
    the stored expectation; a query with none stored is a mismatch."""
    wrong, bad = 0, []
    for name in sorted(queries):
        path = os.path.join(out_dir, name)
        try:
            df = pd.read_parquet(path)
            exp = expected[name]
            ok = len(df) == exp["rows"] and frame_hash(df) == exp["hash"]
        except Exception as e:  # noqa: BLE001 - a missing output is a mismatch
            ok = False
            name = f"{name} ({type(e).__name__})"
        if not ok:
            wrong += 1
            bad.append(name)
    return wrong, (f"{len(queries) - wrong}/{len(queries)} queries match"
                   + (f"; wrong: {', '.join(bad)}" if bad else ""))
