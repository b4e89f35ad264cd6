"""Seeded input generators for the perfbench workloads.

Every input the program sees is written here from a seed; the program
receives only the generated files. Each generator also writes a
ground-truth JSON file next to its output with the planted counts the
benchmark checks the program's results against.

  triage     raw access-log text covering all 8 LineParser formats, a
             Splunk `_raw` CSV export, comment and garbage lines,
             cross-file duplicates, browsing sessions, planted
             500-bursts, planted tool-keyword sequences and one hot
             scanner IP.
  log_store  a base corpus plus small incoming text batches, from the
             same generator under a different seed stream.
  curation   documents/embeddings tables shaped like the sf fixture
             tables (fixed seed: the curation input never varies).
"""
import csv
import json
import os
import random

BASE_EPOCH = 1745193600  # 2025-04-21T00:00:00Z
SESSION_GAP = 60  # Sessionizer.DefaultThreshold

# Written format -> the `format` LineParser reports. `apache` subsumes
# `apache extended` and `nginx`, so those two parse as `apache`.
PARSED_AS = {"apache extended": "apache", "nginx": "apache"}

PAGES = ["/", "/index.html", "/about.html", "/contact", "/products",
         "/products/view", "/cart", "/checkout", "/search", "/blog",
         "/blog/post", "/login", "/account", "/api/items", "/api/user",
         "/help", "/news", "/static/app.js", "/static/site.css",
         "/img/logo.png", "/favicon.ico", "/docs/guide", "/pricing"]
QUERIES = ["", "", "", "?q=shoes", "?page=2", "?id=17", "?sort=asc",
           "?lang=en"]
RISKY = ["/upload/shell.php?cmd=whoami", "/db/dump.sql", "/admin/config.cgi",
         "/%2e%2e/etc/passwd", "/cgi-bin/run.pl", "/backup.sql"]
SCAN_PATHS = ["/wp-login.php", "/.env", "/.git/config", "/admin",
              "/phpmyadmin/index.php", "/server-status", "/config.php",
              "/wp-admin/setup.php", "/xmlrpc.php", "/actuator/health",
              "/vendor/phpunit/eval.php", "/console", "/solr/admin",
              "/manager/html", "/owa/auth", "/api/v1/pods", "/HNAP1",
              "/boaform/admin", "/cgi-bin/luci", "/setup.cgi"]
UAS = ["Mozilla/5.0 (Windows NT 10.0; Win64; x64)",
       "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4)",
       "Mozilla/5.0 (X11; Linux x86_64)", "curl/8.4.0",
       "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0)"]
REFS = ["-", "-", "https://example.org/", "https://search.example/?q=x",
        "https://fofa.info/result"]
METHODS = ["GET"] * 8 + ["POST", "HEAD"]
STATUSES = [200] * 12 + [304, 301, 404, 403, 500]

# Tool signatures (config `tool_signatures`): keyword sequences that the
# ToolScanner must find inside one (source, ip, cluster) within the window.
TOOLS = [
    {"tool": "dirsearch", "name": "DirSearch", "description": "dir brute force",
     "keyword": ["/.access", "/x.bak_0.log", "/.chef/config.rb"], "time_window": 60},
    {"tool": "nikto", "name": "Nikto", "description": "web scanner",
     "keyword": ["/nikto-probe", "/cgi-bin/test-cgi"], "time_window": 30},
]

RULES_YAML = r"""- title: Suspicious URI & OK Status
  detection: { selection: { uri_risk|gte: 70, status: [200, 201, 202], resp_size|gte: 25 } }
  tags: [ { risk_score: 75.0 } ]
- title: Shell Command & Status Success
  detection: { selection: { status: [200, 201, 202], resp_size|gte: 25, request_uri|contains: 'whoami' } }
  tags: [ { risk_score: 71.1 } ]
- title: Suspicious Referrer
  detection: { selection: { referrer|contains: fofa.info } }
  tags: [ { risk_score: 67.5 } ]
- title: Scanner Probe Path
  detection: { selection: { request_uri|contains: 'nikto-probe|test-cgi|/\.access|bak_0\.log|/\.chef/' } }
  tags: [ { risk_score: 72.0 } ]
- title: Status Code Risk
  detection: { selection: { status_risk|gte: 70 } }
  tags: [ { risk_score: 40.0 } ]
"""
SHELLS_TXT = "# webshell basenames\nshell.php\ncmd.php\nc99.php\n"


def apache_ts(epoch):
    d = divmod(epoch - BASE_EPOCH, 86400)
    day = 21 + d[0]
    h, rem = divmod(d[1], 3600)
    m, s = divmod(rem, 60)
    return f"{day:02d}/Apr/2025:{h:02d}:{m:02d}:{s:02d} +0000"


def iis_ts(epoch):
    d = divmod(epoch - BASE_EPOCH, 86400)
    h, rem = divmod(d[1], 3600)
    m, s = divmod(rem, 60)
    return f"2025-04-{21 + d[0]:02d} {h:02d}:{m:02d}:{s:02d}"


def render(e):
    """One event -> (line text, dedup key as the parser would report it)."""
    f, ip, ts = e["fmt"], e["ip"], e["epoch"]
    meth, uri, st, size, ref, ua = (e["method"], e["uri"], e["status"],
                                    e["size"], e["ref"], e["ua"])
    if f in ("apache", "nginx", "apache extended"):
        t = apache_ts(ts)
        line = f'{ip} - - [{t}] "{meth} {uri} HTTP/1.1" {st} {size} "{ref}" "{ua}"'
        if f == "apache extended":
            line += ' "rt=0.004"'
            ua = ua + '" "rt=0.004'  # the lazy apache group swallows the extra field
        key = (t, ip, meth, uri, st, size, ua, ref)
    elif f == "no_method":
        t = apache_ts(ts)
        line = f'{ip} - - [{t}] "{uri}" {st} {size} "{ref}" "{ua}"'
        key = (t, ip, None, uri, st, size, ua, ref)
    elif f == "clf":
        t = apache_ts(ts)
        line = f'{ip} - - [{t}] "{meth} {uri} HTTP/1.0" {st} {size}'
        key = (t, ip, meth, uri, st, size, None, None)
    elif f == "unknown":
        t = apache_ts(ts)
        line = f'w1 p2 f3 {ip} - - [{t}] "{meth} {uri} HTTP/1.1" {st} {size}'
        key = (t, ip, meth, uri, st, size, None, None)
    elif f == "iis":
        t = iis_ts(ts)
        ua = ua.replace(" ", "+")
        line = f"{t} W3SVC1 {meth} {uri} - 443 - {ip} {ua} {ref} {st} 0 0 {size}"
        key = (t, ip, meth, uri, st, size, ua, ref)
    elif f == "iis_custom_1":
        t = iis_ts(ts)
        ua = ua.replace(" ", "+")
        line = (f"{t} W3SVC1 web01 10.9.9.9 {meth} {uri} - 443 - {ip} {ua} "
                f"{ref} {st} 0 0 {size}")
        # this format's last group is time_taken, not resp_size
        key = (t, ip, meth, uri, st, None, ua, ref)
    else:
        raise ValueError(f)
    norm = tuple((v.strip().lower() if isinstance(v, str) else v) for v in key)
    return line, norm


class Corpus:
    """Accumulates events per output file, then writes text + truth."""

    def __init__(self, seed, with_csv=True):
        self.r = random.Random(seed)
        self.with_csv = with_csv
        self.files = {}  # name -> list of (kind, event or raw text)
        self.truth = {"burst_rows": 0, "tool_rows": 0, "comment_lines": 0,
                      "garbage_lines": 0}

    def add(self, fname, e):
        self.files.setdefault(fname, []).append(("event", e))

    def add_raw(self, fname, text, kind):
        self.files.setdefault(fname, []).append((kind, text))

    def event(self, fmt, ip, epoch, uri, status=200, method="GET", size=None,
              ref="-", ua=None, planted=False):
        r = self.r
        return {"fmt": fmt, "ip": ip, "epoch": epoch, "method": method,
                "uri": uri, "status": status,
                "size": size if size is not None else r.randint(40, 9000),
                "ref": ref, "ua": ua or r.choice(UAS), "planted": planted}

    def browsing(self, n_events, hot_ip):
        """Normal sessions: each IP's timeline is strictly increasing, so
        no accidental duplicate keys arise. Formats vary by file."""
        r = self.r
        layouts = [
            ("access_a.log", ["apache"] * 6 + ["nginx"] * 2 + ["apache extended", "no_method"]),
            ("access_b.log", ["apache"] * 3 + ["clf"] * 3 + ["unknown"] * 2),
            ("iis_c.log", ["iis"] * 3 + ["iis_custom_1"] * 2),
            ("splunk_export.csv", ["apache"]),
        ]
        weights = [5, 3, 3, 1 if self.with_csv else 0]
        ips = [f"10.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(1, 254)}"
               for _ in range(max(50, n_events // 40))]
        ips = [ip for ip in dict.fromkeys(ips) if ip != hot_ip]
        clock = {ip: BASE_EPOCH + r.randint(0, 86400) for ip in ips}
        made = 0
        while made < n_events:
            ip = r.choice(ips)
            fname, fmts = r.choices(layouts, weights)[0]
            t = clock[ip] + r.randint(SESSION_GAP, 3 * 3600)
            for _ in range(min(r.randint(3, 30), n_events - made)):
                t += r.randint(1, 40)
                fmt = r.choice(fmts)
                uri = r.choice(PAGES) + r.choice(QUERIES)
                if fmt == "no_method":
                    uri = r.choice(["quit", "-", "\\x16\\x03\\x01", "PRI *"])
                elif r.random() < 0.01:
                    uri = r.choice(RISKY)
                e = self.event(fmt, ip, t, uri, status=r.choice(STATUSES),
                               method=r.choice(METHODS), ref=r.choice(REFS))
                self.add(fname, e)
                made += 1
            clock[ip] = t

    def hot_scanner(self, ip, n_events):
        """One scanner IP walking SCAN_PATHS at a few requests per second in
        one file: it forms a few very large sessions (session/burst
        stragglers). Never status 500, never a tool keyword."""
        r = self.r
        t = BASE_EPOCH + 3600
        for i in range(n_events):
            if i % 4 == 0:
                t += 1
            uri = SCAN_PATHS[i % len(SCAN_PATHS)] + ("" if i % 3 else f"?n={i % 97}")
            self.add("access_a.log", self.event(
                "apache", ip, t, uri, status=r.choice([404, 404, 403, 200]),
                ua="Mozilla/5.0 zgrab/0.x"))

    def bursts(self, n_bursts, length=120, successes=3):
        """500-bursts at 1 s spacing (gap <= 1 s keeps one burst) followed
        by `successes` 200s on the same uri inside the session: exactly
        those 200s get the burst rule."""
        r = self.r
        for b in range(n_bursts):
            ip = f"192.0.2.{10 + b}"
            uri = f"/api/fuzz{b}"
            t = BASE_EPOCH + 7200 + b * 5000
            for i in range(length):
                self.add("access_b.log", self.event("apache", ip, t + i, uri, status=500,
                                                    method="POST", size=40, planted=True))
            for j in range(successes):
                self.add("access_b.log", self.event(
                    "apache", ip, t + length + 10 + j * 5, uri, status=200, size=60,
                    planted=True))
            self.truth["burst_rows"] += successes

    def tool_sequences(self, per_tool):
        for ti, tool in enumerate(TOOLS):
            step = max(1, tool["time_window"] // (len(tool["keyword"]) + 1))
            for k in range(per_tool):
                ip = f"198.51.100.{20 + ti * 50 + k}"
                t = BASE_EPOCH + 40000 + k * 900 + ti * 300
                for i, kw in enumerate(tool["keyword"]):
                    self.add("access_a.log", self.event("apache", ip, t + i * step, kw,
                                                        status=404, size=30, planted=True))
                self.truth["tool_rows"] += len(tool["keyword"])

    def duplicates(self, n_cross, n_same):
        """Cross-file copies (dedup drops them) and same-file repeats
        (kept: they feed request_count). Only apache events are copied,
        verbatim, from access_a.log; planted burst and tool rows are never
        copied, so their counts stay exact."""
        r = self.r
        src = [e for k, e in self.files["access_a.log"]
               if k == "event" and e["fmt"] == "apache" and not e["planted"]]
        for e in r.sample(src, n_cross):
            self.add(r.choice(["access_b.log", "splunk_export.csv"]), dict(e))
        for e in r.sample(src, n_same):
            self.add("access_a.log", dict(e))

    def noise(self, n_comment, n_garbage):
        r = self.r
        names = [n for n in self.files if not n.endswith(".csv")]
        for i in range(n_comment):
            self.add_raw(r.choice(names), f"# rotated log marker {i}", "comment")
        for i in range(n_garbage):
            self.add_raw(r.choice(names),
                         f"garbage line {i} that matches no access log format", "garbage")
        for i in range(n_comment // 4):
            self.add_raw(r.choice(names), "", "blank")

    def write(self, out_dir, hot_ip):
        """Writes logs/<file> (text), splunk_export.csv (outside logs/),
        and returns the ground truth."""
        r = self.r
        logs = os.path.join(out_dir, "logs")
        os.makedirs(logs, exist_ok=True)
        written = {}
        parsed = {}
        keys = {}  # dedup key -> set of sources, count
        total = hot = 0
        for fname, items in sorted(self.files.items()):
            # one file's lines are shuffled in blocks, not sorted: real
            # logs from several vhosts interleave; the parser does not care
            r.shuffle(items)
            lines = []
            for kind, x in items:
                if kind != "event":
                    lines.append(x)
                    if kind in ("comment", "garbage"):
                        self.truth[kind + "_lines"] += 1
                    continue
                line, key = render(x)
                lines.append(line)
                written[x["fmt"]] = written.get(x["fmt"], 0) + 1
                p = PARSED_AS.get(x["fmt"], x["fmt"])
                parsed[p] = parsed.get(p, 0) + 1
                srcs, n = keys.get(key, (set(), 0))
                srcs.add(fname)
                keys[key] = (srcs, n + 1)
                total += 1
                hot += x["ip"] == hot_ip
            if fname.endswith(".csv"):
                with open(os.path.join(out_dir, fname), "w", newline="") as fp:
                    w = csv.writer(fp, quoting=csv.QUOTE_MINIMAL)
                    w.writerow(["_time", "host", "_raw"])
                    for i, line in enumerate(lines):
                        w.writerow([i, "web-frontend", line])
            else:
                with open(os.path.join(logs, fname), "w") as fp:
                    fp.write("\n".join(lines) + "\n")
        dropped = sum(n - 1 for srcs, n in keys.values() if len(srcs) > 1)
        self.truth.update({
            "raw_lines": sum(len(v) for v in self.files.values()),
            "parsed_lines": total,
            "lines_per_written_format": dict(sorted(written.items())),
            "lines_per_parsed_format": dict(sorted(parsed.items())),
            "cross_file_duplicates": dropped,
            "hot_ip": hot_ip,
            "hot_ip_lines": hot,
            "hot_ip_share": hot / total,
        })
        return self.truth


def write_config(out_dir):
    with open(os.path.join(out_dir, "rules.yaml"), "w") as fp:
        fp.write(RULES_YAML)
    with open(os.path.join(out_dir, "shells.txt"), "w") as fp:
        fp.write(SHELLS_TXT)
    lines = ["rules_path: rules.yaml", "webshell_path: shells.txt",
             "ignore_extensions: ['.css', '.js', '.png', '.ico']",
             "ignore_ip: []", "tool_signatures:"]
    for t in TOOLS:
        lines += [f"  - tool: {t['tool']}", f"    name: {t['name']}",
                  f"    description: {t['description']}",
                  f"    keyword: {json.dumps(t['keyword'])}",
                  f"    time_window: {t['time_window']}"]
    with open(os.path.join(out_dir, "config.yaml"), "w") as fp:
        fp.write("\n".join(lines) + "\n")


def triage_corpus(out_dir, seed, n_lines):
    """The triage input: about n_lines raw lines. Returns the truth."""
    c = Corpus(seed)
    hot_ip = "203.0.113.66"
    c.hot_scanner(hot_ip, int(n_lines * 0.25))
    c.bursts(3)
    c.tool_sequences(6)
    c.browsing(int(n_lines * 0.70), hot_ip)
    c.duplicates(int(n_lines * 0.015), int(n_lines * 0.005))
    c.noise(int(n_lines * 0.004), int(n_lines * 0.006))
    truth = c.write(out_dir, hot_ip)
    truth["seed"] = seed
    write_config(out_dir)
    with open(os.path.join(out_dir, "truth.json"), "w") as fp:
        json.dump(truth, fp, indent=1, sort_keys=True)
    return truth


def log_store_inputs(out_dir, seed, base_lines, batch_lines, n_batches):
    """Base corpus (staged at set-up) plus incoming text batches, from
    the triage generator under a different seed stream. Each batch is
    one file in its own directory, so each batch is one new source."""
    base = Corpus(seed * 1000 + 1, with_csv=False)
    base.browsing(base_lines, hot_ip="")
    truth = {"base": base.write(os.path.join(out_dir, "base"), "")}
    r = random.Random(seed * 1000 + 2)
    for b in range(n_batches):
        c = Corpus(r.randrange(1 << 30), with_csv=False)
        c.browsing(batch_lines, hot_ip="")
        d = os.path.join(out_dir, f"batch{b:03d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"batch{b:03d}.log"), "w") as fp:
            fp.write("\n".join(render(e)[0] for items in c.files.values()
                               for k, e in items if k == "event") + "\n")
    ips = sorted({e["ip"] for items in base.files.values() for k, e in items
                  if k == "event"})
    truth["delete_ips"] = random.Random(seed * 1000 + 3).sample(ips, min(64, len(ips)))
    with open(os.path.join(out_dir, "delete_ips.txt"), "w") as fp:
        fp.write("\n".join(truth["delete_ips"]) + "\n")
    truth["n_batches"] = n_batches
    write_config(out_dir)
    with open(os.path.join(out_dir, "truth.json"), "w") as fp:
        json.dump(truth, fp, indent=1, sort_keys=True)
    return truth


WORDS = ("the a data row column table key value join group sort merge filter "
         "scan hash batch stream window agg part line query order customer "
         "vector spark fast slow big small dup").split()
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"] * 2


def curation_tables(out_dir, n_docs, n_emb, seed=42):
    """documents + embeddings shaped like the sf fixture tables, plus
    the eight other fixture tables as tiny stubs (the oracle checker
    binds a view to every fixture table)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    r = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(n_docs):
        words = [r.choice(WORDS) for _ in range(r.randint(8, 90))]
        if r.random() < 0.1:
            words.append("dup")
        text = " ".join(words)
        docs["doc_id"].append(i)
        docs["text"].append(text)
        docs["lang"].append(r.choice(LANGS))
        docs["source"].append(f"src{i % 20}")
        docs["n_chars"].append(len(text))
    pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 0.15, size=(10, 64))
    labels = rng.integers(0, 10, size=n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.05, size=(n_emb, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    ts = pa.array([1745193600000000 + i * 1000000 for i in range(3)],
                  type=pa.timestamp("us"))
    stubs = {
        "region": {"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]},
        "nation": {"n_nationkey": pa.array([0], pa.int32()), "n_name": ["ALGERIA"],
                   "n_regionkey": pa.array([0], pa.int32())},
        "customer": {"c_custkey": pa.array([1], pa.int64()), "c_name": ["c1"],
                     "c_nationkey": pa.array([0], pa.int32()), "c_acctbal": [1.0],
                     "c_mktsegment": ["BUILDING"]},
        "supplier": {"s_suppkey": pa.array([1], pa.int64()), "s_name": ["s1"],
                     "s_nationkey": pa.array([0], pa.int32()), "s_acctbal": [1.0]},
        "part": {"p_partkey": pa.array([1], pa.int64()), "p_name": ["p1"],
                 "p_brand": ["b"], "p_type": ["t"], "p_size": pa.array([1], pa.int32()),
                 "p_retailprice": [1.0]},
        "orders": {"o_orderkey": pa.array([1], pa.int64()),
                   "o_custkey": pa.array([1], pa.int64()), "o_orderstatus": ["O"],
                   "o_totalprice": [1.0],
                   "o_orderdate": pa.array([1745193600000], pa.timestamp("ms")),
                   "o_orderpriority": ["1-URGENT"]},
        "lineitem": {"l_orderkey": pa.array([1], pa.int64()),
                     "l_partkey": pa.array([1], pa.int64()),
                     "l_suppkey": pa.array([1], pa.int64()),
                     "l_linenumber": pa.array([1], pa.int32()), "l_quantity": [1.0],
                     "l_extendedprice": [1.0], "l_discount": [0.0], "l_tax": [0.0],
                     "l_returnflag": ["N"], "l_linestatus": ["O"],
                     "l_shipdate": pa.array([1745193600000], pa.timestamp("ms"))},
        "events": {"event_id": pa.array([0, 1, 2], pa.int64()), "ts": ts,
                   "user_id": pa.array([1, 1, 2], pa.int64()),
                   "event_type": ["view", "click", "view"], "value": [1.0, 2.0, 3.0],
                   "props": ["{}", "{}", "{}"]},
    }
    for name, cols in stubs.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    truth = {"documents": n_docs, "embeddings": n_emb, "seed": seed}
    with open(os.path.join(out_dir, "truth.json"), "w") as fp:
        json.dump(truth, fp, indent=1, sort_keys=True)
    return truth
