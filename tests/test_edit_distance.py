import itertools
import pandas as pd

def brute(rows, d):
    def lev(a, b):
        if len(a) < len(b): a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]
    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        a, b = sorted([(ia, ta), (ib, tb)])
        dd = lev(" ".join(a[1].lower().split()), " ".join(b[1].lower().split()))
        if dd <= d:
            out[(a[0], b[0])] = dd
    return out

def test_edit_distance_pairs_equals_bruteforce(spark):
    from blink_spark.operators.dedup import edit_distance_pairs
    rows = [
        ("r01", "jonathan smith"), ("r02", "jonathan smyth"),
        ("r03", "jonathon smith"), ("r04", "completely different"),
        ("r05", "ab"), ("r06", "abc"), ("r07", "abcd"), ("r08", "zz"),
        ("r09", "jonathan  smith "),   # normalizes to r01's text
        ("r10", "xy"), ("r11", ""),
        ("r12", "short str"), ("r13", "shorty str"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "text"]))
    got = {(r["record_id_a"], r["record_id_b"]): r["lev_dist"]
           for r in edit_distance_pairs(df, "id", "text").collect()}
    assert got == brute(rows, 2)
