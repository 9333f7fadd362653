#!/usr/bin/env python3
"""Write the reference-format golden fixtures under
src/test/resources/reference/ (FIXTURES.md section A).

The upstream CSVs are not redistributable here, so these are
deterministic stand-ins with the same row shapes and every documented
must-contain case:

 - LoginLog.csv: >=2 fails within 2 s for one user (user 1035: three
   fails one second apart, two of its rows swapped in file order),
   a second alerting user, fail->success->fail within 2 s (no alert),
   and fails further apart than 2 s (no alert).
 - OrderLog.csv: create+pay within 15 min, creates never paid, a pay
   whose create is missing, a pay that arrives after its create timed
   out, and a pay listed before its (earlier) create.
 - ReceiptLog.csv: receipts inside and outside the [-3 s, +5 s] band
   around their pay, pays without a receipt, receipts without a pay.
 - AdClickLog.csv: one (user, ad) pair with >100 clicks, a pair at 3
   same-day clicks, pairs whose clicks straddle a UTC day boundary.
 - apache.log: 2000 time-ordered requests over 200 minutes, URLs drawn
   with a skewed distribution.

Every expected value the specs assert is computed from these files in
DuckDB; each query sits next to its assert.

Usage: python3 scripts/make_reference_fixtures.py [dst]
"""
import os
import random
import sys
from datetime import datetime, timedelta, timezone

DST = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(__file__), "..", "src", "test", "resources", "reference")
rnd = random.Random(20190521)


def ip():
    return ".".join(str(rnd.randint(1, 254)) for _ in range(4))


def write(name, lines):
    with open(os.path.join(DST, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def login_log():
    t0 = 1558430800
    rows = [
        # user 1035: fail, fail, fail one second apart -> two warnings
        (1035, ip(), "fail", t0 + 42),
        (1035, ip(), "fail", t0 + 43),
        (1035, ip(), "fail", t0 + 44),
        (1035, ip(), "success", t0 + 50),
        # user 76456: two fails one second apart -> one warning
        (76456, ip(), "fail", t0 + 120),
        (76456, ip(), "fail", t0 + 121),
        # user 23064: fail -> success -> fail within 2 s -> no warning
        (23064, ip(), "fail", t0 + 100),
        (23064, ip(), "success", t0 + 101),
        (23064, ip(), "fail", t0 + 102),
        # user 5402: two fails 5 s apart -> no warning
        (5402, ip(), "fail", t0 + 200),
        (5402, ip(), "fail", t0 + 205),
    ]
    # filler: users with events >= 10 s apart, so no filler pair of
    # fails is ever within 2 s
    users = [83737, 87263, 12810, 45231, 66102, 90218, 31007, 7720,
             55120, 24661]
    while len(rows) < 48:
        u = rnd.choice(users)
        last = max([r[3] for r in rows if r[0] == u], default=t0)
        rows.append((u, ip(), rnd.choice(["success", "success", "fail"]),
                     last + rnd.randint(10, 60)))
    rows.sort(key=lambda r: r[3])
    # user 1035's 843/844 fails arrive swapped (within the 3 s bound)
    i, j = (rows.index(r) for r in [(u, a, e, t) for u, a, e, t in rows
                                    if u == 1035 and t in (t0 + 43, t0 + 44)])
    rows[i], rows[j] = rows[j], rows[i]
    write("LoginLog.csv", [f"{u},{i},{e},{t}" for u, i, e, t in rows])


def tx_id():
    return "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                   for _ in range(9))


def order_logs():
    t0 = 1558430840
    orders, pays = [], []
    oid = 34729
    t = t0
    for n in range(34):  # create + pay within 15 minutes
        tx = tx_id()
        orders.append((oid, "create", "", t))
        orders.append((oid, "pay", tx, t + rnd.randint(2, 600)))
        pays.append((tx, orders[-1][3]))
        oid += 1
        t += rnd.randint(3, 40)
    # pay listed BEFORE its create in file order; create is 30 s earlier
    tx = tx_id()
    late_listed = [(oid, "pay", tx, t + 30), (oid, "create", "", t)]
    pays.append((tx, t + 30))
    oid += 1
    t += 20
    for _ in range(2):  # created, never paid -> timeout
        orders.append((oid, "create", "", t))
        oid += 1
        t += 15
    # pay with no create anywhere -> data-loss alarm
    tx = tx_id()
    orders.append((oid, "pay", tx, t))
    pays.append((tx, t))
    oid += 1
    # paid 20 minutes after create: timeout, then the data-loss alarm
    tx = tx_id()
    orders.append((oid, "create", "", t + 5))
    orders.append((oid, "pay", tx, t + 5 + 1200))
    pays.append((tx, t + 5 + 1200))
    orders.sort(key=lambda r: r[3])
    # splice the out-of-order pair in at its pay's time position
    at = next(i for i, r in enumerate(orders) if r[3] > late_listed[0][3])
    orders[at:at] = late_listed
    write("OrderLog.csv", [f"{o},{e},{x},{ts}" for o, e, x, ts in orders])

    receipts = []
    # in band: receipt - pay in {-2..4} (matched by both tx forms)
    for (tx, pt), d in zip(pays[:8], [-2, -1, 0, 1, 2, 3, 4, 2]):
        receipts.append((tx, pt + d))
    # out of band: 8 s late, 6 s early, 40 s late (unmatched both sides)
    for (tx, pt), d in zip(pays[8:11], [8, -6, 40]):
        receipts.append((tx, pt + d))
    # receipts whose pay never appears
    for k in range(5):
        receipts.append((tx_id(), t0 + 300 + 37 * k))
    receipts.sort(key=lambda r: r[1])
    write("ReceiptLog.csv",
          [f"{x},{rnd.choice(['wechat', 'alipay'])},{ts}" for x, ts in receipts])


def ad_click_log():
    places = [("beijing", "beijing"), ("shanghai", "shanghai"),
              ("guangdong", "guangzhou"), ("guangdong", "shenzhen"),
              ("zhejiang", "hangzhou")]
    day = 1511654400  # 2017-11-26 00:00:00 UTC
    rows = []
    # the hot pair: 105 clicks within one hour of one day
    for k in range(105):
        rows.append((937166, 1715, "beijing", "beijing",
                     day + 36000 + 30 * k))
    # 3 same-day clicks: reaches the threshold-2 warning
    for k in range(3):
        rows.append((161501, 36156, "guangdong", "shenzhen",
                     day + 40000 + 600 * k))
    # 2 clicks on each of two days: resets daily, never warns
    for d in (0, 1):
        for k in range(2):
            rows.append((543462, 1715, "beijing", "beijing",
                         day + 86400 * d + 50000 + 900 * k))
    # 3 clicks straddling midnight (2 before, 1 after): never warns
    for s in (-200, -100, 100):
        rows.append((662867, 2244, "zhejiang", "hangzhou", day + 86400 + s))
    while len(rows) < 143:  # one-off clicks
        p, c = rnd.choice(places)
        rows.append((rnd.randint(100000, 999999), rnd.randint(1000, 40000),
                     p, c, day + rnd.randint(0, 2 * 86400 - 1)))
    rows.sort(key=lambda r: r[4])
    write("AdClickLog.csv", [",".join(map(str, r)) for r in rows])


def apache_log():
    urls = ["/favicon.ico", "/reset.css", "/images/jordan-80.png",
            "/presentations/logstash-monitorama-2013/images/kibana-search.png",
            "/presentations/logstash-monitorama-2013/css/print/paper.css",
            "/blog/tags/puppet?flav=rss20", "/style2.css",
            "/images/web/2009/banner.png", "/robots.txt", "/index.html",
            "/articles/dynamic-dns-with-dhcp/", "/projects/xdotool/",
            "/blog/geekery/disabling-battery-in-ubuntu-vms.html",
            "/images/googledotcom.png", "/favicon.png", "/test.xml"]
    weights = [1.0 / (k + 1) ** 0.9 for k in range(len(urls))]
    start = datetime(2015, 5, 17, 10, 0, 0, tzinfo=timezone.utc)
    secs = sorted(rnd.randint(0, 200 * 60 - 1) for _ in range(2000))
    lines = []
    for s in secs:
        t = (start + timedelta(seconds=s)).strftime("%d/%m/%Y:%H:%M:%S")
        u = rnd.choices(urls, weights)[0]
        m = "GET" if rnd.random() < 0.95 else "POST"
        lines.append(f"{ip()} - - {t} +0000 {m} {u}")
    write("apache.log", lines)


if __name__ == "__main__":
    os.makedirs(DST, exist_ok=True)
    login_log()
    order_logs()
    ad_click_log()
    apache_log()
