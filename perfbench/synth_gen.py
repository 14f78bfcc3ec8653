"""Seeded generator of the `rebuild` workload's inputs.

Writes the layout `Rebuild.main` reads: four `round<N>/` Synthesys source
databases (one parquet file per source table) and `resources/` in their real
formats — `users.csv`, the two JSON maps, the S4 workbook as a real `.xlsx`
and the parquet resource tables. One seed always writes the same bytes.

The properties the pipeline steps branch on are all present: dimension rows
repeated across rounds, `edit`-state projects, users without a GUID, NULL
home countries with "Town, Country" strings, institution names that hit
`master_clean` aliases (including `nil`), a Zipf user→project skew, legacy
`EEE MMM dd … GMT yyyy` dates and zero scores.

`generate` returns the counts the rebuilt analysis tables must have, derived
from the generated rows, not from the pipeline.

Every rate and size in this file is an unverified assumption: the repository
holds no figures on the real rounds' distributions (how many projects are in
`edit` state, users without a GUID, NULL countries, legacy dates, zero
scores, DOIs; the user→project skew; rows per round). The rates are chosen
so that each branch of the pipeline sees enough rows, and the per-round
sizes so that a run fits the benchmark's time budget. Replace them with
measured figures once such figures are in the repository.
"""
import bisect
import datetime as dt
import io
import itertools
import json
import random
import zipfile
from pathlib import Path
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

ROUNDS = 4
DEFAULT_SIZES = (1000, 2000, 2000)  # users, projects, outputs per round

COUNTRIES = [
    ("AR", "Argentina"), ("AT", "Austria"), ("AU", "Australia"), ("BE", "Belgium"),
    ("BG", "Bulgaria"), ("BR", "Brazil"), ("CA", "Canada"), ("CH", "Switzerland"),
    ("CN", "China"), ("CZ", "Czechia"), ("DE", "Germany"), ("DK", "Denmark"),
    ("EE", "Estonia"), ("EG", "Egypt"), ("ES", "Spain"), ("FI", "Finland"),
    ("FR", "France"), ("GB", "United Kingdom"), ("GR", "Greece"), ("HR", "Croatia"),
    ("HU", "Hungary"), ("IE", "Ireland"), ("IN", "India"), ("IT", "Italy"),
    ("JP", "Japan"), ("KE", "Kenya"), ("LT", "Lithuania"), ("LV", "Latvia"),
    ("MX", "Mexico"), ("NL", "Netherlands"), ("NO", "Norway"), ("PK", "Pakistan"),
    ("PL", "Poland"), ("PT", "Portugal"), ("RO", "Romania"), ("SE", "Sweden"),
    ("SI", "Slovenia"), ("SK", "Slovakia"), ("US", "United States"), ("ZA", "South Africa")]
WORDS = (
    "specimen collection herbarium fossil insect beetle moth fern moss lichen "
    "mineral meteorite crystal genome sequence barcode morphology taxonomy "
    "phylogeny evolution species genus family order type holotype paratype "
    "museum curation digitisation imaging microscopy scanning tomography "
    "isotope analysis sample extraction protocol survey field expedition "
    "marine coastal alpine tropical island river lake cave desert forest "
    "pollen seed leaf root wing shell bone tooth skull scale feather egg "
    "data method result study project visit access facility laboratory").split()
SYLLABLES = ["bar", "ken", "lo", "mar", "dor", "vil", "sen", "tra", "nor", "ber",
             "gal", "ros", "tin", "hal", "mun", "pre", "sta", "ve"]
OUTPUT_TYPES = ["Paper", "Book chapter", "Thesis", "Poster", "Dataset", "Talk"]
PUB_STATUSES = ["Published", "In press", "Submitted", "In preparation"]
STATES = ["submitted", "accepted", "rejected", "withdrawn"]
DISCIPLINES = ["Botany", "Entomology", "Mineralogy", "Palaeontology", "Zoology",
               "Mycology", "Genomics", "Ecology", "Geology", "Microbiology"]
AGES = ["18-24", "25-34", "35-44", "45-54", "55+"]
JUNK_INSTITUTIONS = ["N/A", "None given", "Unknown institute", "-", ""]

I32, I64, F64, S = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us", tz="UTC")
SCHEMAS = {
    "NHM_Call": [("callID", I32), ("call", I32), ("dateOpen", TS), ("dateClosed", TS)],
    "NHM_Disciplines": [("DisciplineID", I32), ("DisciplineName", S)],
    "NHM_Specific_Disciplines": [("SpecificDisciplineID", I32),
                                 ("SpecificDisciplineName", S), ("DisciplineID", I32)],
    "NHM_OutputTypes": [("OutputType_ID", I32), ("OutputType", S)],
    "NHM_PublicationStatus": [("PublicationStatus_ID", I32), ("PublicationStatus", S)],
    "NHM_Outputs": [("Output_ID", I32), ("User_ID", I32), ("OutputType_ID", I32),
                    ("Authors", S), ("Year", S), ("Title", S), ("Publisher", S), ("URL", S),
                    ("Volume", S), ("Pages", S), ("Conference", S), ("Degree", S),
                    ("PublicationStatus_ID", I32)],
    "Country_Iso_Codes": [("Country_Code", S), ("Country_Name", S)],
    "T_List_of_Users": [
        ("User_ID", I32), ("Gender", S), ("Nationality_Country_code", S),
        ("Researcher_status", S), ("Discipline1", I32), ("Discipline2", I32),
        ("Discipline3", I32), ("Home_Institution_Type", S), ("Home_Institution_Dept", S),
        ("Home_Institution_Name", S), ("Home_Institution_Town", S),
        ("Home_Institution_Country_code", S), ("Home_Institution_Postcode", S),
        ("Number_of_visits", I32), ("Duration_of_stays", I32), ("Nationality_OtherText", S),
        ("Remote_user", S), ("Travel_and_Subsistence_reimbursed", S), ("jobTitle", S)],
    "T_List_of_UserProjects": [
        ("UserProject_ID", I32), ("User_ID", I32), ("UserProject_Title", S),
        ("UserProject_Objectives", S), ("UserProject_Achievements", S),
        ("length_of_visit", I32), ("start_date", TS), ("finish_date", TS), ("TAF_ID", I32),
        ("Home_Facilities", I32), ("Application_State", S), ("Acceptance", S),
        ("UserProject_Summary", S), ("New_User", I32), ("UserProject_Facility_Reasons", S),
        ("Submission_Date", S), ("Support_Final", I32), ("Project_Discipline", I32),
        ("Project_Specific_Discipline", I32), ("Call_Submitted", S),
        ("Previous_Application", I32), ("Training_Requirement", S),
        ("Supporter_Institution", S), ("Administration_State", S), ("Group_leader", I32),
        ("Group_Members", S), ("UserProject_Background", S), ("UserProject_Reasons", S),
        ("UserProject_Expectations", S), ("UserProject_Outputs", S),
        ("Group_Leader_Institution", S), ("Visit_Funded_Previously", I32)],
    "NHM_Application_Scores": [
        ("Application_Score_ID", I32), ("UserProject_ID", I32), ("Methodology_Score", F64),
        ("Research_Excellence_Score", F64), ("Support_Stmt_Score", F64),
        ("Justification_Score", F64), ("Expected_Gains_Score", F64),
        ("Scientific_Merit_Score", F64), ("Societal_Challenge_Score", F64)],
    "geocities": [("geonameid", I32), ("name", S), ("alternatenames", pa.list_(S)),
                  ("countrycode", S), ("population", I64)],
    "output_dois": [("round", I32), ("original_id", I32), ("doi", S)],
    "doi_metadata": [("doi", S), ("publisher", S),
                     ("authors", pa.list_(pa.struct([("given", S), ("family", S)]))),
                     ("titles", pa.list_(S)), ("created", S), ("url", S), ("volume", S),
                     ("pages", S)],
}
XLSX_SHEETS = {
    "AccessRequest": ["AccessRequest_ID", "UserProject_ID", "SynthRound",
                      "InstallationFacility_ID", "DaysRequested", "RequestDetail"],
    "InstallationFacility": ["InstallationFacility_ID", "InstallationCode",
                             "InstallationFacilityDescription", "Category_ID", "Institution_ID"],
    "Category": ["Category_ID", "CategoryName", "HigherCategoryName"],
    "Institution": ["Institution_ID", "InstitutionAcronym", "InstitutionName", "CountryCode"],
}


class Rng(random.Random):
    """One independent stream per (seed, salt)."""

    def __init__(self, seed, salt):
        super().__init__(f"{seed}/{salt}")

    def chance(self, p):
        return self.random() < p

    def text(self, lo, hi):
        return " ".join(self.choices(WORDS, k=self.randint(lo, hi)))

    def name(self):
        return "".join(self.choices(SYLLABLES, k=self.randint(2, 3))).capitalize()


def _write(path, table, rows):
    names = [n for n, _ in SCHEMAS[table]]
    schema = pa.schema(SCHEMAS[table])
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    pq.write_table(pa.table([pa.array(list(c), t) for c, (_, t) in zip(cols, SCHEMAS[table])],
                            schema=schema), path)
    return len(rows)


def _utc(seconds):
    return dt.datetime.fromtimestamp(seconds, dt.timezone.utc)


def _legacy(seconds):
    """'Mon Jan 02 15:04:05 GMT 2006' (English names, locale-independent)."""
    d = _utc(seconds)
    days = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    return f"{days[d.weekday()]} {months[d.month - 1]} {d.day:02d} {d:%H:%M:%S} GMT {d.year}"


def xlsx_workbook(sheets):
    """Minimal OOXML workbook: shared strings for text cells, plain `<v>`
    numbers, one worksheet part per sheet; fixed entry times, so the same
    sheets always give the same bytes."""
    strings = {}

    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        i = strings.setdefault(v, len(strings))
        return f'<c r="{ref}" t="s"><v>{i}</v></c>'

    def col(i):
        return chr(65 + i) if i < 26 else col(i // 26 - 1) + chr(65 + i % 26)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {}
    for si, (name, header, rows) in enumerate(sheets):
        body = "".join(
            f'<row r="{ri + 1}">' + "".join(cell(f"{col(ci)}{ri + 1}", v) for ci, v in enumerate(r))
            + "</row>" for ri, r in enumerate([header] + rows))
        parts[f"xl/worksheets/sheet{si + 1}.xml"] = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns}"><sheetData>{body}</sheetData></worksheet>')
    n = len(sheets)
    parts["[Content_Types].xml"] = (
        '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/'
        'package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.spreadsheetml.sheet.main+xml"/>' + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/'
            f'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>' for i in range(n))
        + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.spreadsheetml.sharedStrings+xml"/></Types>')
    parts["xl/workbook.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}"><sheets>'
        + "".join(f'<sheet name="{escape(s[0])}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                  for i, s in enumerate(sheets)) + "</sheets></workbook>")
    parts["xl/_rels/workbook.xml.rels"] = (
        '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.'
        'org/package/2006/relationships">' + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(n)) +
        f'<Relationship Id="rId{n + 1}" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
        '</Relationships>')
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{ns}" count="{len(strings)}" '
        f'uniqueCount="{len(strings)}">' + "".join(
            f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in strings) + "</sst>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name in ["[Content_Types].xml", "xl/workbook.xml", "xl/_rels/workbook.xml.rels"] + [
                f"xl/worksheets/sheet{i + 1}.xml" for i in range(n)] + ["xl/sharedStrings.xml"]:
            z.writestr(zipfile.ZipInfo(name, date_time=(2000, 1, 1, 0, 0, 0)), parts[name],
                       compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def generate(seed, out, sizes=DEFAULT_SIZES):
    """Write the input layout under `out`; return the expected counts."""
    n_users, n_projects, n_outputs = sizes
    out = Path(out)
    res = out / "resources"
    res.mkdir(parents=True, exist_ok=True)
    source_rows = 0
    codes = [c for c, _ in COUNTRIES]
    country_name = dict(COUNTRIES)

    # ---- shared dimensions ------------------------------------------------
    dim = Rng(seed, "dims")
    source_rows += _write(res / "Country_Iso_Codes.parquet", "Country_Iso_Codes", COUNTRIES)
    # cities: a few per country; some names exist in two countries, so the
    # same-country / max-population rule is exercised
    cities = [(dim.name(), cc, dim.randint(1, 5000) * 1000)
              for cc in codes for _ in range(dim.randint(2, 4))]
    cities += [(dim.choice(cities)[0], dim.choice(codes), dim.randint(1, 5000) * 1000)
               for _ in range(8)]
    source_rows += _write(res / "geocities.parquet", "geocities", [
        (i + 1, n, [n.upper(), f"Saint {n}"] if i % 3 == 0 else [], cc, pop)
        for i, (n, cc, pop) in enumerate(cities)])
    by_country = {}
    for n, cc, _ in cities:
        by_country.setdefault(cc, []).append(n)
    # towns resolved only through the manual override map
    manual = [(f"Remote Station {i + 1}", dim.choice(codes)) for i in range(6)]
    (res / "unmatched_home_institutions.json").write_text(json.dumps(dict(manual)))
    # institutions: canonical names, spellings the alias map cleans, and junk
    # names the map sends to 'nil'
    places = list(dict.fromkeys(dim.name() for _ in range(30)))
    canonical = [f"University of {p}" for p in places]
    aliases = {f"Univ. {p}": f"University of {p}" for p in places}
    aliases.update({f"{p} University": f"University of {p}" for p in places[:10]})
    alias_keys = list(aliases)
    aliases.update({"N/A": "nil", "None given": "nil", "Unknown institute": "nil"})
    (res / "master_clean.json").write_text(json.dumps(aliases, indent=1))
    source_rows += 2  # one row per JSON map

    def institution(r):
        u = r.random()
        if u < 0.45:
            return r.choice(canonical)
        if u < 0.75:
            k = r.choice(alias_keys)
            return f"  {k.replace(' ', '  ')} \n" if r.chance(0.3) else k
        if u < 0.85:
            return r.choice(JUNK_INSTITUTIONS)
        if u < 0.95:
            return f"<b>{r.choice(canonical)}</b> &amp; partners"
        return None

    # a specific-discipline name always keeps its parent discipline
    spec_pool = [(f"{dim.choice(WORDS).capitalize()} {dim.name()} {i}",
                  dim.randint(1, len(DISCIPLINES))) for i in range(90)]

    # GUID people: each (round, user) belongs to at most one person; a person
    # may hold several accounts in one round ("12,345")
    g = Rng(seed, "guids")
    people, has_guid = [], set()
    for r in range(1, ROUNDS + 1):
        for u in range(1, n_users + 1):
            if g.chance(0.07):
                continue
            if people and g.chance(0.35):
                p = g.choice(people)
            else:
                p = [[] for _ in range(ROUNDS)]
                people.append(p)
            p[r - 1].append(u)
            has_guid.add((r, u))
    lines = ["GUID,SYNTH_1_ID,SYNTH_2_ID,SYNTH_3_ID,SYNTH_4_ID,"
             "SYNTH_1_AGE,SYNTH_2_AGE,SYNTH_3_AGE,SYNTH_4_AGE"]
    for i, p in enumerate(people):
        ids = ['"' + ",".join(map(str, x)) + '"' if x else "" for x in p]
        ages = ["" if not x or g.chance(0.2) else g.choice(AGES) for x in p]
        lines.append(",".join([str(100000 + 7 * i + g.randrange(7))] + ids + ages))
    (res / "users.csv").write_text("\n".join(lines) + "\n")
    source_rows += len(people)

    # ---- per-round sources ------------------------------------------------
    calls_total, spec_names, doi_outputs, kept = 0, set(), [], set()
    access_requests, null_ar = [], 0
    ar = Rng(seed, "access")
    for r in range(1, ROUNDS + 1):
        rng = Rng(seed, f"round{r}")
        rd = out / f"round{r}"
        rd.mkdir(parents=True, exist_ok=True)
        n_calls = 2 + r % 2
        calls_total += n_calls
        epoch0 = int(dt.datetime(2003 + 2 * r, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        year = 365 * 86400
        source_rows += _write(rd / "NHM_Call.parquet", "NHM_Call", [
            (100 * r + k, k, _utc(epoch0 + (k - 1) * (year // n_calls)),
             _utc(epoch0 + (k - 1) * (year // n_calls) + 60 * 86400))
            for k in range(1, n_calls + 1)])
        # repeated dimensions: every round re-exports the shared tables; the
        # pipeline reads the last round's copy
        for t, vals in [("NHM_Disciplines", DISCIPLINES), ("NHM_OutputTypes", OUTPUT_TYPES),
                        ("NHM_PublicationStatus", PUB_STATUSES)]:
            n = _write(rd / f"{t}.parquet", t, [(i + 1, v) for i, v in enumerate(vals)])
            source_rows += n if r == ROUNDS else 0
        # a round exports ~60% of the specific disciplines, under round-local ids
        specs = [s for s in spec_pool if rng.chance(0.6)]
        spec_ids = rng.sample(range(1, len(specs) + 1), len(specs))
        spec_names.update(n for n, _ in specs)
        source_rows += _write(rd / "NHM_Specific_Disciplines.parquet", "NHM_Specific_Disciplines",
                              [(i, n, parent) for (n, parent), i in zip(specs, spec_ids)])

        users = []
        for u in range(1, n_users + 1):
            home = rng.choice(codes)
            home_known = not rng.chance(0.25)
            x = rng.random()
            town = (f"{rng.choice(by_country[home])}, {country_name[home]}" if x < 0.45 else
                    rng.choice(by_country[home]) if x < 0.65 else
                    f"{rng.choice(by_country[home])} - Dept. {rng.name()}" if x < 0.75 else
                    rng.choice(manual)[0] if x < 0.82 else
                    f"{rng.name()}ville" if x < 0.92 else None)
            users.append((
                u, rng.choice(["F", "M", "X", None]),
                rng.choice(codes) if rng.chance(0.9) else None,
                rng.choice(["PhD student", "Postdoc", "Professor", "Technician"]),
                rng.randint(1, len(DISCIPLINES)),
                rng.randint(1, len(DISCIPLINES)) if rng.chance(0.5) else None, None,
                rng.choice(["University", "Museum", "Institute"]),
                f"Department of {rng.choice(WORDS).capitalize()}", institution(rng), town,
                home if home_known else None, f"{rng.randrange(99999):05d}",
                rng.randint(0, 6), rng.randint(1, 60), None, rng.choice(["yes", "no"]),
                rng.choice(["yes", "no", None]), rng.choice(["Researcher", "Curator", "Student"])))
        source_rows += _write(rd / "T_List_of_Users.parquet", "T_List_of_Users", users)

        # projects: users drawn Zipf(1.1) over a seeded permutation of the users
        perm = rng.sample(range(1, n_users + 1), n_users)
        cdf = list(itertools.accumulate(1.0 / (i + 1) ** 1.1 for i in range(n_users)))
        total = cdf[-1]

        def tiny():
            return None if rng.chance(0.15) else rng.randrange(2)
        projects = []
        for p in range(1, n_projects + 1):
            user = perm[min(bisect.bisect_left(cdf, rng.random() * total), n_users - 1)]
            state = "edit" if rng.chance(0.06) else rng.choice(STATES)
            if state != "edit" and (r, user) in has_guid:
                kept.add((r, p))
            start = epoch0 + rng.randrange(3 * 365) * 86400
            x = rng.random()
            submitted = (_legacy(start - rng.randrange(90) * 86400) if x < 0.85 else
                         "" if x < 0.95 else None)
            projects.append((
                p, user, rng.text(4, 10), rng.text(15, 35), rng.text(10, 30),
                rng.randint(1, 30), _utc(start), _utc(start + rng.randint(1, 30) * 86400),
                rng.randint(1, 60) if rng.chance(0.8) else None, tiny(), state,
                rng.choice(["yes", "no", None]), rng.text(20, 40), tiny(), rng.text(10, 25),
                submitted, tiny(), rng.randint(1, len(DISCIPLINES)),
                rng.choice(spec_ids) if spec_ids and rng.chance(0.95) else None,
                str(rng.randint(1, n_calls)), tiny(), rng.choice(["none", "basic", "advanced"]),
                institution(rng), rng.choice(["approved", "pending", None]), tiny(),
                rng.text(2, 6) if rng.chance(0.3) else None, rng.text(15, 30), rng.text(10, 25),
                rng.text(10, 25), rng.text(5, 15), institution(rng), tiny()))
        source_rows += _write(rd / "T_List_of_UserProjects.parquet", "T_List_of_UserProjects",
                              projects)

        # scores: 0-3 reviews per project; zeros and NULLs both occur
        def score(hi):
            x = rng.random()
            return 0.0 if x < 0.08 else None if x < 0.13 else float(rng.randint(1, hi))
        scores = []
        for p in range(1, n_projects + 1):
            for _ in range(rng.choice([0, 1, 2, 2, 3, 3])):
                scores.append((len(scores) + 1, p, score(30), score(10), score(10), score(25),
                               score(10), score(15), score(5) if r == ROUNDS else None))
        source_rows += _write(rd / "NHM_Application_Scores.parquet", "NHM_Application_Scores",
                              scores)

        # outputs; titles carry HTML and entities for the cleaning step. Year
        # is cast to int with a strict cast: numeric text or NULL.
        outputs = []
        for o in range(1, n_outputs + 1):
            if rng.chance(0.3):
                doi_outputs.append((r, o))
            x = rng.random()
            title = (f"<i>{rng.text(3, 10)}</i> &amp; {rng.text(2, 6)}" if x < 0.15 else
                     f"  {rng.text(3, 10)}\n\t{rng.text(2, 5)}  " if x < 0.25 else
                     "" if x < 0.28 else rng.text(4, 14))
            sep = " and " if rng.chance(0.5) else " & "
            authors = sep.join(f"{rng.name()}, {rng.name()[0]}." for _ in range(rng.randint(1, 4)))
            outputs.append((
                o, rng.randint(1, n_users), rng.randint(1, len(OUTPUT_TYPES) + 1), authors,
                str(2000 + rng.randrange(20)) if rng.chance(0.9) else None, title,
                rng.choice(["Elsevier", "Springer", "Wiley", None]),
                f"https://example.org/{rng.randrange(1000000)}" if rng.chance(0.5) else None,
                str(rng.randint(1, 80)) if rng.chance(0.6) else None,
                f"{rng.randint(1, 400)}-{rng.randint(401, 800)}" if rng.chance(0.6) else None,
                rng.text(2, 4) if rng.chance(0.1) else None, None,
                rng.randint(1, len(PUB_STATUSES))))
        source_rows += _write(rd / "NHM_Outputs.parquet", "NHM_Outputs", outputs)

        # access requests of this round's projects, edit/no-GUID ones included
        for p in range(1, n_projects + 1):
            for _ in range(ar.choice([0, 1, 1, 2, 3])):
                null_ar += (r, p) not in kept
                access_requests.append([len(access_requests) + 1, p, r, ar.randint(1, 60),
                                        ar.randint(1, 20), ar.text(1, 4)])

    # DOI caches: shared DOIs make the duplicate-by-DOI histogram non-trivial
    d = Rng(seed, "dois")
    pool = [f"10.{1000 + d.randrange(9000)}/nhm.{i:07d}"
            for i in range(max(1, len(doi_outputs) * 4 // 5))]
    source_rows += _write(res / "output_dois.parquet", "output_dois",
                          [(r, o, d.choice(pool)) for r, o in doi_outputs])
    meta = []
    for doi in pool:
        if not d.chance(0.7):
            continue
        meta.append((
            doi, d.choice(["Elsevier", "Springer", "PLOS"]),
            [{"given": d.name() if d.chance(0.9) else None, "family": d.name()}
             for _ in range(d.randint(1, 3))],
            [d.text(4, 12)] if d.chance(0.9) else [],
            f"{2000 + d.randrange(22)}-0{1 + d.randrange(9)}-1{d.randrange(10)}",
            f"https://doi.org/{doi}", str(d.randint(1, 90)) if d.chance(0.5) else None,
            f"{d.randint(1, 300)}-{d.randint(301, 600)}" if d.chance(0.5) else None))
    source_rows += _write(res / "doi_metadata.parquet", "doi_metadata", meta)

    # the S4 workbook; two institutions carry a code outside the ISO list,
    # which the inner join to the country table drops
    x = Rng(seed, "xlsx")
    categories = [[i, f"Category {x.name()}", x.choice(["Lab", "Collection", "Field"])]
                  for i in range(1, 9)]
    inst_codes = ["ZZ" if i % 15 == 0 else x.choice(codes) for i in range(1, 31)]
    institutions = [[i + 1, x.name().upper()[:4], f"Institute of {x.name()}", cc]
                    for i, cc in enumerate(inst_codes)]
    facilities = [[i, f"INST{i:03d}", f"{x.text(2, 4)} facility", x.randint(1, 8),
                   x.randint(1, 30)] for i in range(1, 61)]
    (res / "access_request_rebuild.xlsx").write_bytes(xlsx_workbook([
        ("AccessRequest", XLSX_SHEETS["AccessRequest"], access_requests),
        ("InstallationFacility", XLSX_SHEETS["InstallationFacility"], facilities),
        ("Category", XLSX_SHEETS["Category"], categories),
        ("Institution", XLSX_SHEETS["Institution"], institutions)]))

    # the view groups by visitor_project_id: one row per kept project with a
    # request, plus one NULL group when any request lost its project
    with_project = {(a[2], a[1]) for a in access_requests} & kept
    counts = {
        "round": ROUNDS, "call": calls_total, "country": len(COUNTRIES),
        "discipline": len(DISCIPLINES), "specific_discipline": len(spec_names),
        "output": ROUNDS * n_outputs, "visitor_project": len(kept),
        "category": len(categories), "institution": sum(c != "ZZ" for c in inst_codes),
        "installation_facility": len(facilities), "access_request": len(access_requests),
        "vw_project_access_requests": len(with_project) + (1 if null_ar else 0),
        "evaluation_score": 7 * len(kept)}
    return {"counts": counts, "null_access_request_projects": null_ar,
            "source_rows": source_rows}
