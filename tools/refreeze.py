#!/usr/bin/env python3
"""Sanctioned digest re-freeze tool (VERDICT r17 #2).

Usage: python3 tools/refreeze.py <twin_query_name> [<sf_dir>]
       python3 tools/refreeze.py --check <twin_query_name> [<sf_dir>]

`--check` is the dry-run idempotence probe (VERDICT r19 #7): it re-runs
the twin and asserts the regenerated (digest, n_pairs) byte-match the
committed manifest row — exit 0 on match, 1 on drift, writing NOTHING.
PythonGateSpec runs it inside `sbt test`, so silent digest drift (or a
refreeze tool that would rewrite an unchanged row differently) is red.

A `*_digest` constant oracle, registered beside its twin in a
src/main/scala/graft/driver family module, may only change together with its
row in src/test/resources/digest_manifest.json (DigestFreezeSpec enforces the
byte-match). This tool produces that row the only honest way:

  1. re-runs the twin AND every paired certification query at sf0.01
     through graft.Verify (fresh JVM, compiled classes);
  2. compares the certs against their DuckDB oracles via tools/compare.py
     and REFUSES to write anything unless every cert is OK
     (GoldenSpec-paired twins additionally require `sbt testOnly
     graft.GoldenSpec` green — run and confirmed interactively);
  3. reads the new (digest, n_pairs) from the twin's own output parquet;
  4. rewrites the manifest row with the new constant, the cert compare
     lines as evidence, and today's date;
  5. prints the family module that registers the twin and the exact
     `.oracle(...)` to paste into that registration.

Commit the manifest change and the family-module change together; the diff
of the manifest IS the re-freeze evidence, auditable from history.
"""
import json
import re
import subprocess
import sys
import datetime
import pathlib
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent
MANIFEST = REPO / "src/test/resources/digest_manifest.json"
DRIVER = REPO / "src/main/scala/graft/driver"


def registering_module(twin):
    """The graft.driver family module whose `Query("<twin>", ...)` registers it."""
    for f in sorted(DRIVER.glob("*.scala")):
        if f'Query("{twin}",' in f.read_text():
            return f.relative_to(REPO)
    sys.exit(f"{twin} is registered in no module under {DRIVER.relative_to(REPO)}")


def run_verify(sf_dir, out_dir, names):
    """Fresh-JVM graft.Verify over the compiled classes for `names`."""
    # --add-opens list reconstructed from build.sbt's jdk17AddOpens packages
    build = (REPO / "build.sbt").read_text()
    opens = []
    for m in re.finditer(r'"(java\.base/[\w./]+)"', build):
        opens += ["--add-opens", m.group(1) + "=ALL-UNNAMED"]
    cmd = ["java"] + opens + [
        "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.Verify", sf_dir, out_dir] + list(names)
    print("running:", " ".join(cmd), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)


def read_twin(out_dir, twin):
    import duckdb
    return duckdb.sql(
        f"SELECT digest, n_pairs FROM '{out_dir}/{twin}/*.parquet'").fetchone()


def check(twin, sf_dir):
    """Dry-run idempotence: regenerated row must byte-match the manifest."""
    manifest = json.loads(MANIFEST.read_text())
    if twin not in manifest["twins"]:
        sys.exit(f"{twin} is not a manifested twin")
    row = manifest["twins"][twin]
    out_dir = tempfile.mkdtemp(prefix="refreeze_check_")
    run_verify(sf_dir, out_dir, [twin])
    digest, n_pairs = read_twin(out_dir, twin)
    if digest != row["digest"] or int(n_pairs) != int(row["n_pairs"]):
        print(f"REFREEZE DRIFT for {twin}: regenerated "
              f"({digest}, {int(n_pairs)}) != manifest "
              f"({row['digest']}, {int(row['n_pairs'])})")
        return 1
    print(f"REFREEZE CHECK OK: {twin} regenerates byte-identically "
          f"({digest}, {int(n_pairs)})")
    return 0


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if sys.argv[1] == "--check":
        if len(sys.argv) < 3:
            sys.exit(__doc__)
        sys.exit(check(sys.argv[2],
                       sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"))
    twin = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    manifest = json.loads(MANIFEST.read_text())
    if twin not in manifest["twins"]:
        sys.exit(f"{twin} is not a manifested twin; add its row (with certs) first")
    row = manifest["twins"][twin]
    certs = [c for c in row["certs"] if not c.startswith("GoldenSpec:")]
    golden = [c for c in row["certs"] if c.startswith("GoldenSpec:")]

    out_dir = tempfile.mkdtemp(prefix="refreeze_")
    run_verify(sf_dir, out_dir, [twin] + certs)
    cmp_out = subprocess.run(
        [sys.executable, str(REPO / "tools/compare.py"), out_dir, sf_dir],
        check=True, capture_output=True, text=True).stdout
    # exact first-token match + anchored status (VERDICT r19 #7): a cert
    # name that prefixes another query's name must not borrow its line,
    # and "OK" must be the status column, not a substring elsewhere
    by_name = {}
    for ln in cmp_out.splitlines():
        toks = ln.split()
        if toks:
            by_name.setdefault(toks[0], ln.strip())
    cert_lines = [by_name[c] for c in certs if c in by_name]
    bad = [ln for ln in cert_lines
           if len(ln.split()) < 2 or ln.split()[1] != "OK"]
    missing = [c for c in certs if c not in by_name]
    if bad or missing:
        print(cmp_out)
        sys.exit(f"REFUSING to re-freeze {twin}: paired cert(s) not green: "
                 f"bad={bad} missing={missing}")
    if golden:
        ans = input(f"{twin} is also paired with {golden}. Confirm `sbt testOnly "
                    "graft.GoldenSpec` is green on this code [y/N]: ")
        if ans.strip().lower() != "y":
            sys.exit("aborted: GoldenSpec evidence not confirmed")

    digest, n_pairs = read_twin(out_dir, twin)
    today = datetime.date.today().isoformat()
    row["digest"] = digest
    row["n_pairs"] = int(n_pairs)
    row["evidence"] = {
        "date": today,
        "detail": "; ".join(cert_lines + [f"{g}: confirmed green" for g in golden]),
        "note": f"re-frozen via tools/refreeze.py at {sf_dir}",
    }
    MANIFEST.write_text(json.dumps(manifest, indent=1))
    print(f"manifest updated. Paste into the {twin} registration in "
          f"{registering_module(twin)}:\n"
          f'      .oracle(\n'
          f'      """SELECT \'{digest}\' AS digest, {int(n_pairs)}::BIGINT AS n_pairs""")')


if __name__ == "__main__":
    main()
