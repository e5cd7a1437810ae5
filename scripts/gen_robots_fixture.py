#!/usr/bin/env python3
"""Generate committed robots.txt fixtures + twin for the q371 gate
(graft.ops.Robots — RFC 9309 crawl permissions).

An INDEPENDENT python implementation of the same RFC decides the
expected allow/deny for every (host, agent, path) probe (no code
shared with the Scala evaluator). On the wildcard-free subset where
RFC 9309 longest-match and the 1994 first-match REP provably agree
(asserted per probe), CPython's own urllib.robotparser is run as a
THIRD validator — the EncodingDetect triangulation discipline.

Planted: wildcard `*` mid-pattern, `$` end anchor, allow/disallow
longest-match precedence, the equal-length tie (allow wins), empty
disallow (= allow all), multiple user-agent lines per group, duplicate
agent groups combining, case-insensitive agents/fields, rules before
any group (ignored), unknown fields + sitemap lines (skipped), a host
with NO robots.txt (default allow), comments.

  python3 scripts/gen_robots_fixture.py

Outputs: src/test/resources/graft/sources/robots/<host>.txt
         src/test/resources/graft/sources/robots_twin.parquet
"""
import os
import urllib.robotparser

OUT = os.path.join(os.path.dirname(__file__),
                   "..", "src/test/resources/graft/sources")
RB_DIR = os.path.join(OUT, "robots")


# ---------------- independent RFC 9309 implementation ----------------

def parse(txt):
    groups = {}
    agents = []
    in_rules = False
    for raw in txt.split("\n"):
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_rules:
                agents = []
                in_rules = False
            a = value.lower()
            if a:
                agents.append(a)
                groups.setdefault(a, [])
        elif field == "crawl-delay":
            # ends the agent list like a rule line, without adding a rule
            in_rules = True
        elif field in ("allow", "disallow"):
            in_rules = True
            if agents and not (field == "disallow" and value == ""):
                for a in agents:
                    groups[a].append((field == "allow", value))
    return groups


def pattern_matches(pattern, path):
    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern

    def m(pi, si):
        p, s = pi, si
        while p < len(pat):
            if pat[p] == "*":
                while p < len(pat) and pat[p] == "*":
                    p += 1
                if p == len(pat):
                    return True
                for k in range(s, len(path) + 1):
                    if m(p, k):
                        return True
                return False
            if s < len(path) and path[s] == pat[p]:
                p += 1
                s += 1
            else:
                return False
        return (not anchored) or s == len(path)

    return m(0, 0)


def is_allowed(groups, agent, path):
    rules = groups.get(agent.lower(), groups.get("*", []))
    best_len, best_allow = -1, True
    for allow, pattern in rules:
        if len(pattern) >= best_len and pattern_matches(pattern, path):
            if len(pattern) > best_len:
                best_len, best_allow = len(pattern), allow
            elif len(pattern) == best_len and allow:
                best_allow = True
    return True if best_len < 0 else best_allow


# ---------------------------- fixtures -------------------------------

ROBOTS = {
    "basic.example": (
        "# basic groups (allow listed FIRST so 1994 first-match and RFC\n"
        "# 9309 longest-match agree on every probe -> triangulatable)\n"
        "SiteMap: https://basic.example/map-a.xml\n"   # mixed-case field
        "User-agent: graftbot\n"
        "Allow: /private/ok.html\n"
        "Disallow: /private/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp/\n"
        "  Sitemap: https://basic.example/map-b.xml.gz  # trailing comment\n"),
    "wildcards.example": (
        "User-Agent: *\n"          # case-insensitive field
        "Disallow: /*.pdf$\n"
        "Disallow: /cgi/*?id=\n"
        "Allow: /cgi/public\n"),
    "ties.example": (
        "User-agent: *\n"
        "Allow: /dir/page\n"       # equal length as the disallow below
        "Disallow: /dir/page\n"    # tie -> allow wins
        "Disallow: /dir/\n"),
    "combine.example": (
        "User-agent: a\n"
        "User-agent: b\n"
        "Disallow: /x/\n"
        "Sitemap: https://combine.example/map.xml\n"
        "Crawl-delay: 10\n"        # non-standard: skipped
        "User-agent: a\n"          # duplicate group: combines
        "Disallow: /y/\n"),
    "empty.example": (
        "Disallow: /ignored-before-any-group/\n"
        "Sitemap:\n"               # empty value: dropped
        "User-agent: *\n"
        "Disallow:\n"),            # empty disallow = allow all
    # consumed by q375's robots-gated STREAMING ingestion (no probes
    # here: q371's twin is the probe table and stays unchanged)
    "cur.test": (
        "User-agent: graftbot\n"
        "Disallow: /latin1\n"
        "Disallow: /bom\n"
        "User-agent: *\n"
        "Disallow: /\n"),
}

PROBES = [
    # (host, agent, path)
    ("basic.example", "GraftBot", "/private/secret.html"),
    ("basic.example", "graftbot", "/private/ok.html"),
    ("basic.example", "graftbot", "/tmp/x"),       # own group, not *
    ("basic.example", "otherbot", "/tmp/x"),
    ("basic.example", "otherbot", "/public/a"),
    ("wildcards.example", "any", "/doc/report.pdf"),
    ("wildcards.example", "any", "/doc/report.pdf.html"),  # $ anchor
    ("wildcards.example", "any", "/cgi/run?id=3"),
    ("wildcards.example", "any", "/cgi/public?id=3"),
    ("ties.example", "any", "/dir/page"),
    ("ties.example", "any", "/dir/other"),
    ("combine.example", "a", "/x/1"),
    ("combine.example", "a", "/y/1"),
    ("combine.example", "b", "/y/1"),   # b's group did NOT combine
    ("empty.example", "any", "/anything"),
    ("norobots.example", "any", "/free"),          # no robots.txt file
]

# probes where RFC 9309 longest-match and the 1994 first-match REP
# (what urllib.robotparser implements) provably agree BY CONSTRUCTION:
# wildcard-free patterns, allow rules listed before broader disallows,
# no duplicate-group combining in play
TRIANGULATE = {
    ("basic.example", "GraftBot", "/private/secret.html"),
    ("basic.example", "graftbot", "/private/ok.html"),
    ("basic.example", "graftbot", "/tmp/x"),
    ("basic.example", "otherbot", "/tmp/x"),
    ("basic.example", "otherbot", "/public/a"),
    ("combine.example", "a", "/x/1"),  # first group only: both agree
}


def main():
    os.makedirs(RB_DIR, exist_ok=True)
    for old in os.listdir(RB_DIR):
        os.remove(os.path.join(RB_DIR, old))
    for host, txt in ROBOTS.items():
        with open(os.path.join(RB_DIR, host + ".txt"), "w") as f:
            f.write(txt)
    rows = []
    for host, agent, path in PROBES:
        if host in ROBOTS:
            allowed = is_allowed(parse(ROBOTS[host]), agent, path)
        else:
            allowed = True
        rows.append((host, agent, path, allowed))
        if (host, agent, path) in TRIANGULATE:
            rp = urllib.robotparser.RobotFileParser()
            rp.parse(ROBOTS[host].split("\n"))
            third = rp.can_fetch(agent, path)
            assert third == allowed, (host, agent, path, third, allowed)
    # sitemap-record twin (q388): the SAME independent python pass
    # extracts `Sitemap:` records per host — field case-insensitive,
    # value verbatim, empty values dropped, comments stripped, order
    # preserved (the discovery channel graft.ops.Robots.sitemapSeeds
    # reads; evaluator verdicts above are unaffected, RFC treats the
    # record as an "other record")
    sm_rows = []
    for host in sorted(ROBOTS):
        idx = 0
        for raw in ROBOTS[host].split("\n"):
            line = raw.split("#", 1)[0].strip()
            if ":" not in line:
                continue
            f, v = line.split(":", 1)
            if f.strip().lower() == "sitemap" and v.strip():
                sm_rows.append((host, idx, v.strip()))
                idx += 1
    assert [r for r in sm_rows if r[0] == "basic.example"] == [
        ("basic.example", 0, "https://basic.example/map-a.xml"),
        ("basic.example", 1, "https://basic.example/map-b.xml.gz")]
    assert any(r[0] == "combine.example" for r in sm_rows)
    assert all(r[0] != "empty.example" for r in sm_rows)

    # planted truths
    byp = {(h, a, p): al for h, a, p, al in rows}
    assert byp[("basic.example", "GraftBot", "/private/secret.html")] is False
    assert byp[("basic.example", "graftbot", "/private/ok.html")] is True
    assert byp[("basic.example", "graftbot", "/tmp/x")] is True
    assert byp[("wildcards.example", "any", "/doc/report.pdf")] is False
    assert byp[("wildcards.example", "any", "/doc/report.pdf.html")] is True
    assert byp[("ties.example", "any", "/dir/page")] is True
    assert byp[("ties.example", "any", "/dir/other")] is False
    assert byp[("combine.example", "a", "/y/1")] is False
    assert byp[("combine.example", "b", "/y/1")] is True
    assert byp[("empty.example", "any", "/anything")] is True
    assert byp[("norobots.example", "any", "/free")] is True

    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "host": pa.array([r[0] for r in rows], pa.string()),
        "agent": pa.array([r[1] for r in rows], pa.string()),
        "path": pa.array([r[2] for r in rows], pa.string()),
        "allowed": pa.array([r[3] for r in rows], pa.bool_()),
    }), os.path.join(OUT, "robots_twin.parquet"))
    pq.write_table(pa.table({
        "host": pa.array([r[0] for r in sm_rows], pa.string()),
        "rec_idx": pa.array([r[1] for r in sm_rows], pa.int32()),
        "sm_url": pa.array([r[2] for r in sm_rows], pa.string()),
    }), os.path.join(OUT, "robots_sitemap_twin.parquet"))
    print(f"wrote {len(ROBOTS)} robots files + twin ({len(rows)} probes,"
          f" {len(TRIANGULATE)} triangulated"
          " against urllib.robotparser)")


if __name__ == "__main__":
    main()
