"""Seeded benchmark inputs, written once per (shape, seed) as parquet.

Both tables are generated here with numpy, never by the engine, so two
commits of the engine read byte-identical input for the same seed.

- ``lineitem``: the TPC-H lineitem columns the graph queries read
  (``l_orderkey, l_partkey, l_suppkey``). Lines per order are 1 + Poisson(3.07)
  and part and supplier keys are uniform, the same shape as the frozen sf
  test data: ``ps_edges`` gives supplier hubs, ``cooc_edges`` the
  part co-occurrence graph.
- ``repo_files``: the engine's native corpus shape
  (``tools/scaling_bench.py``): log-uniform repo and path indices, so one
  repo holds ~1/ln(n_repos) of all files and the repo-path graph is
  power-law skewed.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["py", "java", "c", "go", "rs", "js", "rb", "scala"])


def lineitem_table(seed: int, n_lines: int) -> pa.Table:
    """TPC-H-shaped lineitem keys at scale factor ``n_lines / 6e6``."""
    sf = n_lines / 6_000_000
    n_parts, n_supps = max(1, round(200_000 * sf)), max(1, round(10_000 * sf))
    rng = np.random.default_rng(seed)
    per_order = 1 + rng.poisson(3.07, int(n_lines / 4.07))
    orderkey = np.repeat(np.arange(len(per_order), dtype=np.int64), per_order)
    n = len(orderkey)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supps, n, dtype=np.int64),
        }
    )


def repo_files_table(seed: int, n_files: int) -> pa.Table:
    """Power-law ``repo_files(repo, path, commit, lang, content)``."""
    n_repos, n_paths = max(200, n_files // 1000), max(1000, n_files // 100)
    rng = np.random.default_rng(seed)
    fid = np.arange(n_files).astype(str)
    repo = np.floor(n_repos ** rng.random(n_files)).astype(np.int64) % n_repos
    path = np.floor(n_paths ** rng.random(n_files)).astype(np.int64) % n_paths
    lang = LANGS[rng.integers(0, len(LANGS), n_files)]
    cat = np.char.add
    return pa.table(
        {
            "repo": cat("repo-", repo.astype(str)),
            "path": cat(cat(cat("src/", lang), cat("/mod_", path.astype(str))), cat(".", lang)),
            "commit": cat("c", fid),
            "lang": lang,
            "content": cat(cat("// file ", fid), cat(" of repo ", repo.astype(str))),
        }
    )


TABLES = {"lineitem": lineitem_table, "repo_files": repo_files_table}


def materialize(work: Path, table: str, seed: int, rows: int) -> Path:
    """Directory holding ``<table>.parquet`` for this shape and seed.

    Written once; later runs with the same seed read the same file. The
    directory layout is what ``__spark_entry__`` expects of an sf dir.
    """
    d = work / "inputs" / f"{table}-{rows}-seed{seed}"
    f = d / f"{table}.parquet"
    if not f.exists():
        d.mkdir(parents=True, exist_ok=True)
        tmp = d / f".{table}.parquet.tmp"
        pq.write_table(TABLES[table](seed, rows), tmp)
        os.replace(tmp, f)
    return d


# fingerprint() of every input directory run.py makes for seeds 0-31, 42
# and 301-310 (full size) and seed 42 (smoke size); check_fingerprint
# holds each run to these values, whatever the commit
EXPECTED = {
    "lineitem-20000-seed0": "n=20150:xor=4461561929447401066",
    "repo_files-50000-seed0": "n=50000:xor=-6064676182786111752",
    "lineitem-20000-seed1": "n=19921:xor=8717355626869548190",
    "repo_files-50000-seed1": "n=50000:xor=4345309930635367256",
    "lineitem-20000-seed2": "n=20009:xor=7392976017949044256",
    "repo_files-50000-seed2": "n=50000:xor=2698199329222254197",
    "lineitem-20000-seed3": "n=19932:xor=-1836548141584411727",
    "repo_files-50000-seed3": "n=50000:xor=-4032857603149368706",
    "lineitem-20000-seed4": "n=19956:xor=6357181530847894227",
    "repo_files-50000-seed4": "n=50000:xor=-7791595925477169350",
    "lineitem-20000-seed5": "n=19933:xor=-8852241552442258772",
    "repo_files-50000-seed5": "n=50000:xor=2767084110980942178",
    "lineitem-20000-seed6": "n=19954:xor=6661833144507293801",
    "repo_files-50000-seed6": "n=50000:xor=3909501128009374973",
    "lineitem-20000-seed7": "n=20109:xor=2647642023824242176",
    "repo_files-50000-seed7": "n=50000:xor=-7001028061590687105",
    "lineitem-20000-seed8": "n=20139:xor=-4703829288931278882",
    "repo_files-50000-seed8": "n=50000:xor=2084727784558712914",
    "lineitem-20000-seed9": "n=19958:xor=1686676783359485901",
    "repo_files-50000-seed9": "n=50000:xor=8369620151645225927",
    "lineitem-20000-seed10": "n=20015:xor=4609109806256932305",
    "repo_files-50000-seed10": "n=50000:xor=4708097424055919687",
    "lineitem-20000-seed11": "n=19767:xor=-5928062365986932715",
    "repo_files-50000-seed11": "n=50000:xor=-788079888455681609",
    "lineitem-20000-seed12": "n=20143:xor=-3429366032798163013",
    "repo_files-50000-seed12": "n=50000:xor=3309407486180562572",
    "lineitem-20000-seed13": "n=19917:xor=-1379534723020243996",
    "repo_files-50000-seed13": "n=50000:xor=-1410473803704541226",
    "lineitem-20000-seed14": "n=19949:xor=1618523675194817258",
    "repo_files-50000-seed14": "n=50000:xor=4313381734905169910",
    "lineitem-20000-seed15": "n=20118:xor=173938482556063389",
    "repo_files-50000-seed15": "n=50000:xor=-5679066735456227133",
    "lineitem-20000-seed16": "n=20147:xor=1203886977068205354",
    "repo_files-50000-seed16": "n=50000:xor=-4874396629989800101",
    "lineitem-20000-seed17": "n=19903:xor=5399916508651019547",
    "repo_files-50000-seed17": "n=50000:xor=-520745804118960537",
    "lineitem-20000-seed18": "n=19821:xor=2473119378311413814",
    "repo_files-50000-seed18": "n=50000:xor=-5369925434867331801",
    "lineitem-20000-seed19": "n=20198:xor=-8244815649469755132",
    "repo_files-50000-seed19": "n=50000:xor=465031598345517316",
    "lineitem-20000-seed20": "n=19897:xor=124157461361174541",
    "repo_files-50000-seed20": "n=50000:xor=-7068789862881336987",
    "lineitem-20000-seed21": "n=20263:xor=-7380605829981595022",
    "repo_files-50000-seed21": "n=50000:xor=-1471538546983724571",
    "lineitem-20000-seed22": "n=19930:xor=7691218542449163612",
    "repo_files-50000-seed22": "n=50000:xor=6449533183721424695",
    "lineitem-20000-seed23": "n=19887:xor=8292875050188674790",
    "repo_files-50000-seed23": "n=50000:xor=-8428340168428167993",
    "lineitem-20000-seed24": "n=20031:xor=2118137836342209327",
    "repo_files-50000-seed24": "n=50000:xor=113871088406388591",
    "lineitem-20000-seed25": "n=19852:xor=7771574301458374121",
    "repo_files-50000-seed25": "n=50000:xor=-4247460037412929582",
    "lineitem-20000-seed26": "n=19786:xor=3596817887813236868",
    "repo_files-50000-seed26": "n=50000:xor=-4269263133862472535",
    "lineitem-20000-seed27": "n=19992:xor=355126034776618127",
    "repo_files-50000-seed27": "n=50000:xor=1837875836633715984",
    "lineitem-20000-seed28": "n=19889:xor=-1148269946318484621",
    "repo_files-50000-seed28": "n=50000:xor=-2900332256263669642",
    "lineitem-20000-seed29": "n=19853:xor=-476520097977233253",
    "repo_files-50000-seed29": "n=50000:xor=-2307600821504459077",
    "lineitem-20000-seed30": "n=20202:xor=5371711318934595126",
    "repo_files-50000-seed30": "n=50000:xor=4759267992640780751",
    "lineitem-20000-seed31": "n=20144:xor=960775898801495140",
    "repo_files-50000-seed31": "n=50000:xor=1803202422380363410",
    "lineitem-20000-seed42": "n=20062:xor=290594779744037540",
    "repo_files-50000-seed42": "n=50000:xor=8988884451514596153",
    "lineitem-20000-seed301": "n=19976:xor=-3694818201613135094",
    "repo_files-50000-seed301": "n=50000:xor=5654815458516693212",
    "lineitem-20000-seed302": "n=20124:xor=8905788503661673236",
    "repo_files-50000-seed302": "n=50000:xor=-3217882305656548937",
    "lineitem-20000-seed303": "n=20007:xor=-5203558546128861928",
    "repo_files-50000-seed303": "n=50000:xor=1722864434417440138",
    "lineitem-20000-seed304": "n=20209:xor=6284787548089640115",
    "repo_files-50000-seed304": "n=50000:xor=6662526771605088198",
    "lineitem-20000-seed305": "n=20038:xor=-719126189641515042",
    "repo_files-50000-seed305": "n=50000:xor=5532159173883065660",
    "lineitem-20000-seed306": "n=19956:xor=35530808086324142",
    "repo_files-50000-seed306": "n=50000:xor=6938804992249807193",
    "lineitem-20000-seed307": "n=19757:xor=-1113546677769091833",
    "repo_files-50000-seed307": "n=50000:xor=-3876343447290118919",
    "lineitem-20000-seed308": "n=19963:xor=2155726552537637579",
    "repo_files-50000-seed308": "n=50000:xor=5565450916102294843",
    "lineitem-20000-seed309": "n=20012:xor=8289747660058420352",
    "repo_files-50000-seed309": "n=50000:xor=439561919644675237",
    "lineitem-20000-seed310": "n=20087:xor=5566918619874343507",
    "repo_files-50000-seed310": "n=50000:xor=4723983490809184876",
    "lineitem-6000-seed42": "n=5961:xor=2364529327568014726",
    "repo_files-20000-seed42": "n=20000:xor=-8623371984684002193",
}


def fingerprint(spark, d: Path, table: str) -> str:
    """Row count plus xor of per-row xxhash64 over every column."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(str(d / f"{table}.parquet"))
    row = df.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).first()
    return f"n={row['n']}:xor={row['h']}"


def check_fingerprint(spark, d: Path, table: str) -> tuple[bool, str]:
    """Compare the input's fingerprint with the committed ``EXPECTED``
    value for its directory, so every commit is held to the same input.

    A seed not in ``EXPECTED`` is held to the value its first run in this
    checkout recorded next to the parquet.
    """
    fp = fingerprint(spark, d, table)
    want = EXPECTED.get(d.name)
    if want is None:
        rec = d / "fingerprint.json"
        if not rec.exists():
            rec.write_text(json.dumps({"fingerprint": fp}))
        want = json.loads(rec.read_text())["fingerprint"]
    return fp == want, fp
