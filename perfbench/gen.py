"""Seeded inputs for the ``varda_lifecycle`` workload, and their reference.

``generate`` writes N single-sample VCFs drawn from one shared site pool,
BED coverage for every other sample, and one site-only query VCF (pool
sites plus novel sites) for ``annotate``. The same seed gives byte-identical
files.

``reference`` re-reads those files with a plain-Python parser and computes
the varda frequency semantics the warehouse must reproduce:

- VN: summed ``pool_size`` of selected samples that look at the locus; a
  sample with a coverage profile looks only inside its BED regions
  (counted once however many regions overlap), one without looks
  everywhere;
- VC: summed support of the selected samples' observations of the key;
- VF: VC / VN, or 0.0 when VN is 0.

Only SNVs are generated, so allele normalization is the identity and the
reference needs no trimming logic; chromosomes carry a ``chr`` prefix that
the reader must strip.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

CHROMS = ("1", "2", "X")
BASES = "ACGT"
_BIALLELIC_GT = ("0/1", "0|1", "1/1")
_MULTIALLELIC_GT = ("0/1", "0/2", "1/2", "1/1", "2/2")


@dataclass(frozen=True)
class Sample:
    name: str
    public: bool
    vcf: str
    bed: str | None  # None: no coverage profile, looks genome-wide


@dataclass(frozen=True)
class Inputs:
    samples: tuple[Sample, ...]
    query_vcf: str

    def input_bytes(self) -> int:
        """Bytes the warehouse ingests: every sample VCF and BED."""
        paths = [s.vcf for s in self.samples] + [s.bed for s in self.samples if s.bed]
        return sum(os.path.getsize(p) for p in paths)


def generate(out_dir: str, seed: int, *, n_samples: int, n_sites: int,
             carry: float = 0.5, n_regions: int = 40) -> Inputs:
    """Write the seeded VCF/BED files under ``out_dir`` and describe them."""
    # Counts (sites, multi-allelic sites, sites per sample, query sites) and
    # region lengths are fixed and only which ones is drawn, so sizes do not
    # vary with the seed.
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_chrom = n_sites // len(CHROMS)
    span = per_chrom * 40  # ~40 bp per site
    pool = []
    for chrom in CHROMS:
        multi = set(rng.sample(range(per_chrom), per_chrom // 10))
        for j, pos in enumerate(sorted(rng.sample(range(1, span), per_chrom))):
            ref = rng.choice(BASES)
            others = [b for b in BASES if b != ref]
            pool.append((chrom, pos, ref, rng.sample(others, 2 if j in multi else 1)))

    def subset(frac: float) -> set[int]:
        return set(rng.sample(range(len(pool)), round(frac * len(pool))))

    samples = []
    for i in range(n_samples):
        name = f"S{i:03d}"
        vcf = os.path.join(out_dir, f"{name}.vcf")
        carried = subset(carry)
        with open(vcf, "w") as fh:
            fh.write("##fileformat=VCFv4.2\n")
            fh.write(f"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{name}\n")
            for j, (chrom, pos, ref, alts) in enumerate(pool):
                if j not in carried:
                    continue
                gt = rng.choice(_BIALLELIC_GT if len(alts) == 1 else _MULTIALLELIC_GT)
                fh.write(f"chr{chrom}\t{pos}\t.\t{ref}\t{','.join(alts)}\t50\tPASS\t.\tGT\t{gt}\n")
        bed = None
        if i % 2 == 0:
            bed = os.path.join(out_dir, f"{name}.bed")
            with open(bed, "w") as fh:
                for chrom in CHROMS:
                    starts = sorted(rng.randrange(0, span) for _ in range(n_regions))
                    for start in starts:  # overlaps are allowed and count once
                        fh.write(f"chr{chrom}\t{start}\t{start + span // (2 * n_regions)}\n")
        # public and coverage cross: covered+public, bare, covered, public
        samples.append(Sample(name, public=i % 4 in (0, 3), vcf=vcf, bed=bed))

    query_vcf = os.path.join(out_dir, "query.vcf")
    queried, novel = subset(0.3), subset(0.05)
    with open(query_vcf, "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        fh.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        for j, (chrom, pos, ref, alts) in enumerate(pool):
            if j in queried:
                fh.write(f"chr{chrom}\t{pos}\t.\t{ref}\t{','.join(alts)}\t50\tPASS\t.\n")
            if j in novel:  # usually a site no sample observes
                fh.write(f"chr{chrom}\t{pos + 1}\t.\tA\tC\t50\tPASS\t.\n")
    return Inputs(tuple(samples), query_vcf)


def _records(path: str):
    with open(path) as fh:
        for line in fh:
            if line.startswith("#"):
                continue
            f = line.rstrip("\n").split("\t")
            yield f[0].removeprefix("chr"), int(f[1]), f[3], f[4].split(","), f[9:]


def observations(vcf: str) -> dict[tuple, str]:
    """Variant key -> zygosity for one single-sample VCF (support is 1)."""
    out = {}
    for chrom, pos, ref, alts, gts in _records(vcf):
        alleles = [a for a in gts[0].split(":")[0].replace("|", "/").split("/") if a != "."]
        for i, alt in enumerate(alts, start=1):
            n = alleles.count(str(i))
            if n:
                out[(chrom, pos, ref, alt)] = "homozygous" if n == len(alleles) else "heterozygous"
    return out


def regions(bed: str) -> dict[str, list[tuple[int, int]]]:
    """BED [start, end) -> 1-based closed [begin, end] per chromosome."""
    out: dict[str, list[tuple[int, int]]] = {}
    with open(bed) as fh:
        for line in fh:
            chrom, start, end = line.split("\t")[:3]
            out.setdefault(chrom.removeprefix("chr"), []).append((int(start) + 1, int(end)))
    return out


def query_keys(vcf: str) -> set[tuple]:
    return {(c, p, r, a) for c, p, r, alts, _ in _records(vcf) for a in alts}


@dataclass(frozen=True)
class Reference:
    obs_rows: dict[str, int]                   # sample name -> observation rows
    region_rows: dict[str, int]                # sample name -> region rows
    frequency: dict[tuple, tuple]              # key -> (vn, vc, vf), all samples
    annotate: dict[tuple, tuple]               # key -> (ALL_vn, ALL_vf, PUB_vn, PUB_vf)


def reference(inputs: Inputs) -> Reference:
    """Expected warehouse outputs once every sample is imported and active."""
    obs = {s.name: observations(s.vcf) for s in inputs.samples}
    regs = {s.name: regions(s.bed) for s in inputs.samples if s.bed}

    def looks(s: Sample, chrom: str, pos: int) -> bool:
        if not s.bed:
            return True
        return any(b <= pos <= e for b, e in regs[s.name].get(chrom, ()))

    def freq(key: tuple, selected: list[Sample]) -> tuple[int, int, float]:
        vn = sum(1 for s in selected if looks(s, key[0], key[1]))
        vc = sum(1 for s in selected if key in obs[s.name])
        return vn, vc, vc / vn if vn > 0 else 0.0

    everyone = list(inputs.samples)
    public = [s for s in everyone if s.public]
    keys = set().union(*obs.values())
    ann = {}
    for key in query_keys(inputs.query_vcf):
        a_vn, _, a_vf = freq(key, everyone)
        p_vn, _, p_vf = freq(key, public)
        ann[key] = (a_vn, a_vf, p_vn, p_vf)
    return Reference(
        obs_rows={n: len(o) for n, o in obs.items()},
        region_rows={n: sum(map(len, r.values())) for n, r in regs.items()},
        frequency={k: freq(k, everyone) for k in keys},
        annotate=ann,
    )
