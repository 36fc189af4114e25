#!/usr/bin/env python3
"""Seeded generator for an OMIM source directory (the 12 BuildGraph.Inputs).

Shapes follow the real downloads and the checked-in fixture under
src/test/resources/omim. At `frac=1.0` the sizes match the reference's
release (BASELINE.md): ~27k mimTitles, 8.9k morbidmap, 17k genemap2,
44k HGNC, 29.5k mappings/pubmed rows and 576 protected rows; smaller
fractions scale every table except the fixed-size exclusion and capitalization tables.

Coverage: every mimTitles prefix (Asterisk, Plus, Number Sign, Percent,
NULL, Caret with one, two and no replacements) and every branch of the
association cascade: protected, key-1 / no-MIM skip, non-causal (keys 2
and 4 and excluded key-3), non-definitive ({ [ ? labels and shared
phenotypes) and causal.

`generate()` returns the row counts of the release artifacts it can
predict; the benchmark compares them with what the build writes.

Usage: python3 perfbench/gen_omim.py <seed> <outdir> [frac]
"""
import json
import os
import sys

import numpy as np

WORDS = ("ATAXIA ANEMIA CARDIOMYOPATHY DEAFNESS DYSPLASIA DYSTROPHY EPILEPSY "
         "GLAUCOMA LEUKEMIA LIPODYSTROPHY MYOPATHY NEUROPATHY RETINITIS "
         "SPHEROCYTOSIS THROMBOCYTOPENIA CATARACT NEPHRONOPHTHISIS MICROCEPHALY").split()
QUALIFIERS = ["AUTOSOMAL DOMINANT", "AUTOSOMAL RECESSIVE", "X-LINKED",
              "CONGENITAL", "JUVENILE", "PROGRESSIVE", "FAMILIAL"]
GENE_WORDS = ("KINASE RECEPTOR CHANNEL TRANSPORTER FACTOR PROTEIN HOMOLOG "
              "SUBUNIT REGULATOR DOMAIN ZINC FINGER").split()
EPONYMS = ("ABBOTT BARTH COHEN DANLOS EHLERS FANCONI GILBERT HUNTER JOUBERT "
           "KEARNS LEIGH MARFAN NOONAN OPITZ PENDRED REFSUM SANDHOFF TANGIER "
           "USHER VANDER WAARDENBURG ALPORT BLOOM COCKAYNE DARIER FABRY GAUCHER "
           "HURLER KRABBE LOWE MENKES NIEMANN PICK STARGARDT WILSON").split()


def _sym(i):
    """Unique upper-case gene symbol for gene index i."""
    s, n = "", i
    for _ in range(3):
        s += chr(65 + n % 26)
        n //= 26
    return f"{s}{i % 97 + 1}"


def _write(path, header_comments, rows, trailer=None):
    with open(path, "w") as f:
        for h in header_comments:
            f.write(f"# {h}\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
        if trailer:
            f.write(f"# {trailer}\n")


def generate(seed, out, frac=1.0):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = lambda x, lo=1: max(lo, int(round(x * frac)))
    pick = lambda xs: xs[int(rng.integers(0, len(xs)))]

    counts = {"Asterisk": n(16000), "Plus": n(30), "Number Sign": n(7200),
              "Percent": n(1700), "NULL": n(1400), "Caret": n(1300, 3)}
    total = sum(counts.values())
    mims = [str(m) for m in rng.choice(np.arange(100000, 700000), total, replace=False)]
    prefixes = [p for p, c in counts.items() for _ in range(c)]
    rows_by_prefix = {p: [] for p in counts}
    for p, m in zip(prefixes, mims):
        rows_by_prefix[p].append(m)
    genes = rows_by_prefix["Asterisk"] + rows_by_prefix["Plus"]
    phenos = rows_by_prefix["Number Sign"] + rows_by_prefix["Percent"] + rows_by_prefix["NULL"]
    live = genes + phenos
    sym = {g: _sym(i) for i, g in enumerate(genes)}
    hgnc_id = {g: str(1000 + i) for i, g in enumerate(genes)}
    eponyms = EPONYMS[:35]

    # ---------------------------------------------------------------- titles
    label = {}
    titles = []
    for p, m in zip(prefixes, mims):
        alt = inc = ""
        if p in ("Asterisk", "Plus"):
            pref = f"{pick(GENE_WORDS)} {pick(GENE_WORDS)} {int(rng.integers(1, 40))}; {sym[m]}"
            if rng.random() < 0.4:
                alt = f"{pick(GENE_WORDS)} {pick(GENE_WORDS)}; {sym[m]}L"
        elif p == "Caret":
            r = rng.random()
            if r < 0.5:
                pref = f"MOVED TO {pick(live)}"
            elif r < 0.8:
                pref = f"MOVED TO {pick(live)} AND {pick(live)}"
            else:
                pref = "REMOVED FROM DATABASE"
        else:
            base = f"{pick(eponyms)} {pick(WORDS)}" if rng.random() < 0.4 else pick(WORDS)
            if rng.random() < 0.5:
                base += f", {pick(QUALIFIERS)} {int(rng.integers(1, 30))}"
            if p == "Percent":
                base += ", FAMILIAL"
            label[m] = base
            pref = base + (f"; {base[:3].replace(' ', '')}{int(rng.integers(1, 9))}"
                           if rng.random() < 0.5 else "")
            r = rng.random()
            if r < 0.3:
                alt = f"{pick(WORDS)} SYNDROME, FORMERLY;; {pick(eponyms)} DISEASE"
            elif r < 0.5:
                alt = f"{pick(WORDS)} {pick(QUALIFIERS)}; {pick(WORDS)[:4]}"
            if rng.random() < 0.1:
                inc = f"{pick(WORDS)} SYNDROME, INCLUDED; {pick(WORDS)[:4]}"
        titles.append([p, m, pref, alt, inc])
    _write(f"{out}/mimTitles.txt",
           ["Copyright (c) 1966-2026 synthetic benchmark generator",
            "Generated: 2026-08-12",
            "Prefix\tMIM Number\tPreferred Title; symbol\tAlternative Title(s); symbol(s)"
            "\tIncluded Title(s); symbols"], titles, "End of file")

    # ---------------------------------------------------------------- HGNC
    n_hgnc = n(44000)
    hgnc_rows = [[f"HGNC:{hgnc_id[g]}", sym[g], f"gene {sym[g].lower()}"] for g in genes]
    extra = max(0, n_hgnc - len(hgnc_rows))
    for i in range(extra):
        if i % 400 == 399:      # a few symbol-less rows, under the 1% bad-row guard
            hgnc_rows.append([f"HGNC:{900000 + i}", "", "withdrawn"])
        else:
            hgnc_rows.append([f"HGNC:{900000 + i}", f"X{_sym(i)}", "non-OMIM locus"])
    with open(f"{out}/hgnc_complete_set.txt", "w") as f:
        f.write("hgnc_id\tsymbol\tname\n")
        for r in hgnc_rows:
            f.write("\t".join(r) + "\n")

    # ------------------------------------------------------------ mim2gene
    m2g_symbol = {}
    m2g = []
    types = {"Asterisk": "gene", "Plus": "gene/phenotype", "Number Sign": "phenotype",
             "Percent": "predominantly phenotypes", "NULL": "phenotype",
             "Caret": "moved/removed"}
    for p, m in zip(prefixes, mims):
        if m in sym:
            s = sym[m] if rng.random() < 0.9 else ""
            m2g_symbol[m] = s
            m2g.append([m, types[p], str(int(rng.integers(1, 10**6))), s,
                        f"ENSG{int(rng.integers(0, 10**11)):011d}" if s else ""])
        else:
            m2g.append([m, types[p], "", "", ""])
    _write(f"{out}/mim2gene.txt",
           ["Copyright (c) 1966-2026 synthetic benchmark generator",
            "MIM Number\tMIM Entry Type (see FAQ 1.3 at https://omim.org/help/faq)"
            "\tEntrez Gene ID (NCBI)\tApproved Gene Symbol (HGNC)\tEnsembl Gene ID (Ensembl)"],
           m2g)

    # ------------------------------------------------------------ genemap2
    def cyto():
        return f"{int(rng.integers(1, 23))}{pick('pq')}{int(rng.integers(11, 36))}.{int(rng.integers(1, 4))}"
    gene_cyto = {g: cyto() for g in genes}
    gm2 = [[f"chr{gene_cyto[g].split('p')[0].split('q')[0]}",
            str(int(rng.integers(1, 2 * 10**8))), sym[g], g] for g in genes]
    for m in rng.choice(phenos, max(0, n(17000) - len(gm2)), replace=False):
        gm2.append([f"chr{int(rng.integers(1, 23))}", str(int(rng.integers(1, 2 * 10**8))), "", m])
    _write(f"{out}/genemap2.txt",
           ["Copyright (c) 1966-2026 synthetic benchmark generator", "Generated: 2026-08-12",
            "Chromosome\tGenomic Position Start\tApproved Gene Symbol\tMIM Number"],
           gm2, "End of file")

    # ------------------------------------------------------------ morbidmap
    pool = list(rng.permutation(phenos))
    used = set()

    def take():
        m = pool.pop()
        used.add(m)
        return m

    def field(m, key, style="plain"):
        lab = label[m].title()
        core = {"plain": f"{lab}, {m}", "susc": f"{{{lab}, susceptibility to}}, {m}",
                "nondisease": f"[{lab}], {m}", "provisional": f"?{lab}, {m}",
                "nomim": lab}[style]
        return f"{core} ({key})"

    def assoc(pf, g):
        alt = f", {sym[g]}L" if rng.random() < 0.3 else ""
        return [pf, sym[g] + alt, g, gene_cyto[g]]

    n_morbid = n(8900)
    morbid, causal_pairs, excluded = [], [], []
    plan = [("causal", 0.45), ("shared", 0.15), ("susc", 0.08), ("nondisease", 0.04),
            ("provisional", 0.06), ("key1", 0.05), ("key2", 0.05), ("key4", 0.03),
            ("nomim", 0.05), ("somatic", 0.02), ("geneaspheno", 0.02)]
    for kind, share in plan:
        k = max(1, int(round(n_morbid * share)))
        while k > 0:
            g = pick(genes)
            if kind == "shared":
                m, width = take(), min(k, int(rng.integers(2, 4)))
                for _ in range(width):
                    morbid.append(assoc(field(m, 3), pick(genes)))
                k -= width
                continue
            if kind == "causal":
                m = take()
                morbid.append(assoc(field(m, 3), g))
                causal_pairs.append((m, g))
            elif kind in ("susc", "nondisease", "provisional"):
                morbid.append(assoc(field(take(), 3 if kind != "nondisease" else 2, kind), g))
            elif kind == "key1":
                morbid.append(assoc(field(take(), 1), g))
            elif kind == "key2":
                morbid.append(assoc(field(take(), 2), g))
            elif kind == "key4":
                morbid.append(assoc(field(take(), 4), g))
            elif kind == "nomim":
                morbid.append(assoc(field(take(), 3, "nomim"), g))
            elif kind == "somatic":
                m = take()
                morbid.append(assoc(f"{label[m].title()}, somatic, {m} (3)", g))
            else:
                morbid.append(assoc(f"{pick(GENE_WORDS).title()} deficiency, {g} (3)", g))
            k -= 1
    # excluded key-3: causal-shaped rows whose phenotype is on the exclusion list
    for _ in range(15):
        m, g = take(), pick(genes)
        morbid.append(assoc(field(m, 3), g))
        excluded.append(m)
    order = rng.permutation(len(morbid))
    morbid = [morbid[i] for i in order]
    _write(f"{out}/morbidmap.txt",
           ["Copyright (c) 1966-2026 synthetic benchmark generator",
            "Phenotype\tGene/Locus And Other Related Symbols\tMIM Number\tCyto Location"],
           morbid)

    # -------------------------------------------------------- curator tables
    orcid = lambda: f"https://orcid.org/0000-000{int(rng.integers(1, 9))}-{int(rng.integers(1000, 9999))}-{int(rng.integers(1000, 9999))}"
    with open(f"{out}/exclusions-disease-gene.tsv", "w") as f:
        f.write("omim_id\tmondo_id\tmondo_label\torcid\texclusion_reason_comment\n")
        for m in excluded:
            f.write(f"OMIM:{m}\tMONDO:{int(rng.integers(0, 10**7)):07d}\t{label[m].lower()}"
                    f"\t{orcid()}\tcurator exclusion\n")
    n_prot = n(576, 4)
    existing = [causal_pairs[i] for i in rng.choice(len(causal_pairs), n_prot // 2, replace=False)]
    fresh = [(take(), pick(genes)) for _ in range(n_prot - len(existing))]
    protected = existing + fresh
    with open(f"{out}/protected-disease-gene.tsv", "w") as f:
        f.write("phenotype_mim\tmondo_id\tmondo_label\ttype\tgene_mim\thgnc_id\torcid\tcomment\n")
        for m, g in protected:
            f.write(f"OMIM:{m}\tMONDO:{int(rng.integers(0, 10**7)):07d}\t{label[m].lower()}"
                    f"\t{pick(['digenic', 'causal', 'somatic'])}\tOMIM:{g}\tHGNC:{hgnc_id[g]}"
                    f"\t{orcid() if rng.random() < 0.8 else ''}\tcurated\n")
    with open(f"{out}/known_capitalizations.tsv", "w") as f:
        f.write("lower_name\tcap_name\tpattern\n")
        for e in eponyms:
            f.write(f"{e.lower()}\t{e.title()}\texact\n")

    # ------------------------------------------------------------ mappings
    with open(f"{out}/mondo_exactmatch_omim.sssom.tsv", "w") as f:
        f.write("# curie_map:\n#   MONDO: http://purl.obolibrary.org/obo/MONDO_\n"
                "#   OMIM: https://omim.org/entry/\n# license: CC0\n")
        f.write("subject_id\tpredicate_id\tobject_id\tmapping_justification\n")
        for m in phenos:
            if rng.random() < 0.7:
                for _ in range(2 if rng.random() < 0.05 else 1):
                    mondo = f"MONDO:{int(rng.integers(0, 10**7)):07d}"
                    a, b = (mondo, f"OMIM:{m}") if rng.random() < 0.9 else (f"OMIM:{m}", mondo)
                    f.write(f"{a}\tskos:exactMatch\t{b}\tsemapv:ManualMappingCuration\n")
    api_mims = list(rng.choice(mims, min(total, n(29500)), replace=False))
    ids = lambda fmt, k: "|".join(fmt(int(rng.integers(1, 10**7))) for _ in range(k))
    with open(f"{out}/mappings.tsv", "w") as f:
        f.write("mim\tis_phenotype\tdate_fetched\tumls_ids\torphanet_ids\n")
        for m in api_mims:
            f.write(f"{m}\t{m not in sym}\t2026-01-15"
                    f"\t{ids(lambda x: f'C{x:07d}', int(rng.integers(0, 4)))}"
                    f"\t{ids(str, int(rng.integers(0, 3)))}\n")
    with open(f"{out}/pubmed-refs.tsv", "w") as f:
        f.write("mim\tis_phenotype\tdate_fetched\tpmid_refs\n")
        for m in api_mims:
            f.write(f"{m}\t{m not in sym}\t2026-01-15\t{ids(str, int(rng.integers(0, 7)))}\n")

    # ------------------------------------------------------ phenotypic series
    ps_rows, ps_pool = [], [m for m in phenos if m in used]
    for i in range(n(550)):
        ps = f"PS{200000 + i * 7}"
        ps_rows.append([ps, f"{pick(WORDS).title()}, series {i}"])
        for m in rng.choice(ps_pool, int(rng.integers(2, 10)), replace=False):
            ps_rows.append([ps, m, label[m].title()])
    _write(f"{out}/phenotypicSeries.txt",
           ["Copyright (c) 1966-2026 synthetic benchmark generator",
            "Phenotypic Series Number\tPhenotype\tMIM Number"], ps_rows)

    # predicted artifact row counts (protected augmentation, J9/J10):
    # `fresh` pairs are absent from morbidmap, titled and HGNC-known, so each
    # adds one morbidmap row; a protected gene whose mim2gene row lacks its
    # symbol adds one mim2gene row
    expected = {
        "morbidmap_protected_added_rows": len(morbid) + len(fresh),
        "mim2gene_protected_added_rows": len(m2g) + sum(
            1 for _, g in protected if m2g_symbol[g] != sym[g]),
    }
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected


if __name__ == "__main__":
    frac = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(generate(int(sys.argv[1]), sys.argv[2], frac))
