#!/usr/bin/env python3
"""Seeded generator of raw Epic `C19_*_LDS` extracts for the CLIF ETL.

Usage: python3 clifbench/gen_c19.py <outDir> --seed N [--scale S]

Writes the twelve pipe-delimited extracts that `graft.clif.ClifEtl.run`
reads, with the column sets of FIXTURES.md section 1 and the vocabulary
names checked in under src/main/resources/graft/clif/. The lab extract
follows BASELINE.md's lab-analyte proxy (the eight observed analyte
counts), multiplied by `--scale`; the flowsheet extract is sized from
BASELINE.md's vitals volume; the other extracts' sizes and the date span
are assumptions, each named where it is set below. The row count of
each file depends on the scale only, not on the seed, apart from the
duplicate rows of the dirt model (about 1%). The seed drives content,
and the same seed and scale give byte-identical files.

Dirt model (FIXTURES.md): malformed numerics, empty strings, literal
NULLs and exact duplicate rows, in value columns only. Keys and epoch
timestamps stay clean, as the pipelines' inputs do.
"""
import argparse
import csv
import os
import random
import time

HERE = os.path.dirname(os.path.abspath(__file__))
VOCAB = os.path.join(HERE, "..", "src", "main", "resources", "graft", "clif")

# BASELINE.md: lab result counts per analyte (extract size proxy), keyed
# by the component names the checked-in component map uses.
LAB_PROXY = {
    "HEMOGLOBIN": 35040, "POC GLUCOSE": 34209,
    "POTASSIUM, SERUM/PLASMA": 31281, "BLOOD UREA NITROGEN": 29594,
    "CREATININE": 29611, "WBC": 25383, "PH_ARTERIAL": 6757, "INR": 6373,
}
OTHER_ANALYTE_ROWS = 2000     # each remaining mapped component, at 1x (assumed)
UNMAPPED = ["UNMAPPED PANEL", "SARS-COV-2 PCR", "URINE CULTURE"]

# BASELINE.md: the vitals flowsheet arrives as two file parts, read at the
# same 10M-line chunk size as the single lab file, so the flowsheet
# extract (vitals, respiratory support and GCS rows) gets two lab
# extracts' worth of rows.
FLOW_PER_LAB = 2
# Assumptions (no figure in the repository sizes these): the flowsheet's
# split between vitals, respiratory support and GCS rows; lab results
# and patients per encounter; rows per encounter of the other extracts.
FLOW_SPLIT = (0.80, 0.12, 0.08)
LABS_PER_ENC = 60
PATIENTS_PER_ENC = 0.7
IO_PER_ENC = 3
ADT_PER_ENC = 7.5
RX_ADMIN_PER_ENC = 15
RX_ORDERS_PER_ENC = 3.75

T0 = 1583020800               # 2020-03-01 00:00:00 UTC, epoch seconds
DAY = 86400
# Admissions fall in a three-day window and stays last at most two days:
# the sinks partition by event date, so this span (about five dates) sets
# how many files each table's writer emits. Assumed: real extracts span
# months, but an ETL run's cost grows with the number of files written,
# and this span keeps one run near 13 s on 4 cores.
ADMIT_SPAN_DAYS = 3
MAX_STAY_DAYS = 2

DIRT_RATE = 0.02              # share of value cells made dirty
DUP_RATE = 0.01               # share of rows repeated verbatim
MALFORMED = ["12.3.4", "abc", ">5", "<0.01", "1,200", "--", "see note"]

VITAL_RANGE = {"temperature": (96.0, 103.0), "pulse": (40, 160),
               "respirations": (8, 40), "spo2": (80, 100), "map": (50, 120)}
RESP = [("RT RS OXYGEN DEVICE", "device"), ("RT RS VENT FIO2", (21, 100)),
        ("RT RS FIO2", (21, 100)), ("RT RS NI FIO2", (21, 100)),
        ("RT RS OXYGEN FLOW", (0.5, 70.0)),
        ("RT RS VENT PRESSURES PEEP/CPAP", (0, 20)),
        ("RT RS VENT VOLUMES VT SET", (250, 700)),
        ("RT RS VENT PRESSURE PRESSURE SUPPORT", (0, 25)),
        ("RT RS CONVENTIONAL VENT MODES", "mode"),
        ("RT RS RESP RATE SET", (8, 35))]
DEVICES = ["Nasal Cannula", "Vent", "Bipap", "CPAP", "High Flow NC",
           "Face Mask", "Trach Collar", "Room Air", "Other device"]
MODES = ["SIMV", "AC/VC", "AC/PC", "PRVC", "PS", "APRV", "CPAP/PSV"]
GCS = [("NUR RA GLASGOW ADULT SCORING", (3, 15)),
       ("NUR RA GLASGOW ADULT BEST MOTOR RESPONSE", (1, 6)),
       ("NUR RA GLASGOW ADULT EYE OPENING", (1, 4)),
       ("NUR RA GLASGOW ADULT VERBAL RESPONSE", (1, 5))]
DEPTS = ["N08S MICU", "N09E WARD", "N03W MED", "T5NE SURG", "T6IC UNIT",
         "D4IC NEURO", "N10N CCU", "CD MAIN OR", "COMER MAIN OR",
         "ED CCD", "ER MITCHELL", "OUTPT CLINIC"]
ROOMS = ["3021", "4050", "D410", "TS610", "8035", "OTFA", "OTFP",
         "N12 A", "EXAM 3", "TRAUMA 1", "10035", "LOBBY"]
MEDS = [("norepinephrine 8mg/250ml", True), ("epinephrine 4mg/250ml", True),
        ("vasopressin 20 units/100ml", True), ("propofol 10 mg/ml", True),
        ("dexmedetomidine 400mcg/100ml", True), ("fentanyl 2500mcg/250ml", True),
        ("heparin 25000 units/250ml", True), ("insulin regular 100units/100ml", True),
        ("midazolam 100mg/100ml", True), ("acetaminophen 500 mg", False),
        ("ondansetron 4 mg", False), ("cefepime 2 g", False),
        ("pantoprazole 40 mg", False)]
RATE_DOSES = ["5 mcg/min", "0.1 mcg/kg/min", "2.5mcg/kg/min", "50 mcg/kg/min",
              "2 units/hr", "0.04 units/min", "10 mg/hr", "1 mg/hr"]
BOLUS_DOSES = ["8 mg", "1 g", "500 mg", "4 Units", "2.5 mg", "40 mg"]
FREQS_CONT = ["IV CONTINUOUS", "CONTINUOUS"]
FREQS_INT = ["ONCE", "BID", "TID", "Q6H PRN", "DAILY"]
ROUTES = ["Intravenous", "Oral", "Subcutaneous", "Intramuscular"]
RACES = ["Black or African-American", "White", "American Indian or Alaska Native",
         "Asian Indian", "Asian/Mideast Indian", "Other Asian", "Native Hawaiian",
         "Native Hawaiian/Other Pacific Islander", "Other Pacific Islander",
         "Patient declines to respond", "Unknown or Patient unable to respond",
         "Other"]
ETHNICS = ["Hispanic or Latino", "Mexican, Mexican American, or Chicano/a",
           "Not Hispanic, Latino/a, or Spanish origin",
           "Other Hispanic, Latino/a, or Spanish origin",
           "Patient declines to respond", "Puerto Rican",
           "Unknown or Patient unable to respond"]
DISPOS = ["Discharged to Home or Self Care (Routine Discharge)", "Expired",
          "Hospice - Home",
          "Hospice - Medical Facility (Certified) Providing Hospice Level of Care",
          "Discharged/transferred to Skilled Nursing Facility",
          "Discharged/transferred to Home Under Care of Organized Home Health Service Org",
          "Left Against Medical Advice or Discontinued Care",
          "Admitted as an Inpatient to this Hospital", "Still Patient",
          "Disch/trans to Another Type of Health Care Inst not Defined Elsewhere in this List",
          "Other"]
DX = [("Sepsis, unspecified organism", "A41.9"), ("COVID-19", "U07.1"),
      ("Acute respiratory failure with hypoxia", "J96.01"),
      ("Pneumonia, unspecified organism", "J18.9"),
      ("Acute kidney failure, unspecified", "N17.9"),
      ("Essential (primary) hypertension", "I10"),
      ("Type 2 diabetes mellitus without complications", "E11.9")]
CRRT = ["Actual Fluid Removed (mL)", "Fluid Delivered (L/Hr)"]
HD = ["aUltra Filtration Net Loss", "Machine Number"]
PD = ["Total Ultrafiltration", "Initial Drain", "Fill Volume",
      "Manual Exchange (Output)"]


def vocab(name):
    with open(os.path.join(VOCAB, name), newline="") as f:
        return list(csv.DictReader(f))


class Gen:
    def __init__(self, seed, scale):
        self.r = random.Random(seed)
        self.scale = scale

    def n(self, rows_at_1x):
        return max(1, int(round(rows_at_1x * self.scale)))

    def num(self, lo, hi, dirty=True):
        """A numeric-as-string value, occasionally dirty."""
        r = self.r
        if dirty and r.random() < DIRT_RATE:
            return r.choice(MALFORMED + ["", "NULL"])
        if isinstance(lo, int) and isinstance(hi, int):
            return str(r.randint(lo, hi))
        return f"{r.uniform(lo, hi):.1f}"

    def maybe_empty(self, v):
        r = self.r.random()
        return "" if r < DIRT_RATE / 2 else "NULL" if r < DIRT_RATE else v


def write(out_dir, name, header, rows, r):
    """One extract; DUP_RATE of the rows repeated right after themselves."""
    with open(os.path.join(out_dir, f"{name}.txt"), "w", newline="\n") as f:
        f.write("|".join(header) + "\n")
        for row in rows:
            line = "|".join(row) + "\n"
            f.write(line)
            if r.random() < DUP_RATE:
                f.write(line)


def generate(out_dir, seed, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    g = Gen(seed, scale)
    r = g.r
    comp_map = vocab("labs_component_map.csv")
    flow_names = vocab("vitals_flowsheet_names.csv")

    lab_counts = [(c["component_name"],
                   g.n(LAB_PROXY.get(c["component_name"], OTHER_ANALYTE_ROWS)))
                  for c in comp_map]
    lab_counts += [(u, g.n(OTHER_ANALYTE_ROWS // 4)) for u in UNMAPPED]
    n_labs = sum(c for _, c in lab_counts)
    n_enc = max(20, n_labs // LABS_PER_ENC)
    n_pat = max(10, int(n_enc * PATIENTS_PER_ENC))
    per_enc = lambda k: max(1, int(round(n_enc * k)))
    n_vitals, n_resp, n_gcs = (max(1, int(round(FLOW_PER_LAB * n_labs * f)))
                               for f in FLOW_SPLIT)

    # encounters: (patient, har, record_type, admit epoch, discharge epoch)
    encs = []
    for i in range(n_enc):
        pid = 1000 + (i * 7919) % n_pat
        adm = T0 + r.randrange(0, ADMIT_SPAN_DAYS * DAY)
        encs.append((pid, 500000 + i, "hb" if r.random() < 0.9 else "pb",
                     adm, adm + r.randrange(DAY // 2, MAX_STAY_DAYS * DAY)))

    def enc_time():
        e = encs[r.randrange(n_enc)]
        return e, r.randrange(e[3], e[4])

    # labs
    rows = []
    for comp, cnt in lab_counts:
        cid = str(3000 + (sum(map(ord, comp)) % 997))
        for _ in range(cnt):
            e, t = enc_time()
            rows.append((str(e[0]), str(e[1]), cid, comp,
                         r.choice(["CBC PANEL", "BMP", "ABG", "LFT PANEL", "MISC"]),
                         str(t), str(t + r.randrange(600, 6 * 3600)),
                         g.num(0.0, 300.0), g.maybe_empty("ref"),
                         g.maybe_empty(r.choice(["g/dL", "mg/dL", "mmol/L", "U/L"])),
                         r.choice(["standard", "poc"])))
    write(out_dir, "C19_LAB_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "component_id", "component_name",
           "proc_name", "order_time", "result_time", "ord_value",
           "reference_value", "reference_unit", "lab_type_name"], rows, r)

    # flowsheet: vitals, respiratory support and GCS scores in one extract
    rows = []
    for _ in range(n_vitals):
        e, t = enc_time()
        v = flow_names[r.randrange(len(flow_names))]
        if v["vital_name"] == "blood_pressure":
            val = (f"{r.randint(80, 180)}/{r.randint(40, 110)}"
                   if r.random() >= DIRT_RATE else r.choice(["120/", "/80", "", "NULL"]))
        else:
            val = g.num(*VITAL_RANGE.get(v["vital_name"], (0, 200)))
        rows.append((str(e[0]), str(e[1]), str(t), v["flo_meas_name"], val,
                     g.maybe_empty(r.choice(["arm", "leg", "wrist", "oral"]))))
    for _ in range(n_resp):
        e, t = enc_time()
        name, kind = RESP[r.randrange(len(RESP))]
        val = (r.choice(DEVICES) if kind == "device" else
               r.choice(MODES) if kind == "mode" else g.num(*kind))
        rows.append((str(e[0]), str(e[1]), str(t), name, val, ""))
    for _ in range(n_gcs):
        e, t = enc_time()
        name, rng = GCS[r.randrange(len(GCS))]
        rows.append((str(e[0]), str(e[1]), str(t), name, g.num(*rng), ""))
    write(out_dir, "C19_FLOW_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "recorded_time", "flo_meas_name",
           "meas_value", "meas_site_name"], rows, r)

    # flowsheet IO (dialysis); recorded_time as "yyyy-MM-dd HH:mm:ss"
    rows = []
    for _ in range(per_enc(IO_PER_ENC)):
        e, t = enc_time()
        kind = r.random()
        grp, meas = ((r.choice(CRRT), "CRRT DIALYSIS") if kind < 0.4 else
                     (r.choice(HD), "HEMODIALYSIS") if kind < 0.7 else
                     (r.choice(PD), "PERITONEAL DIALYSIS") if kind < 0.9 else
                     ("Urine", "URINE OUTPUT"))
        ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t - t % 3600))
        rows.append((str(e[0]), str(e[1]), ts, grp, meas, g.num(0, 3000)))
    write(out_dir, "C19_FLOW_IO_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "recorded_time", "flo_group_name",
           "flo_meas_name", "meas_value"], rows, r)

    # ADT
    rows = []
    for _ in range(per_enc(ADT_PER_ENC)):
        e, t = enc_time()
        out = "" if r.random() < 0.05 else str(t + r.randrange(3600, 3 * DAY))
        rows.append((str(e[0]), str(e[1]), str(t), out, r.choice(DEPTS),
                     r.choice(ROOMS)))
    write(out_dir, "C19_ADT_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "in_time", "out_time",
           "adt_department_name", "adt_room_nm_wid"], rows, r)

    # medications: admin, orders, outpatient
    rows, orders, outs = [], [], []
    for i in range(per_enc(RX_ADMIN_PER_ENC)):
        e, t = enc_time()
        med, continuous = MEDS[r.randrange(len(MEDS))]
        cont_row = continuous and r.random() < 0.6
        dose = r.choice(RATE_DOSES if cont_row else BOLUS_DOSES)
        unit = dose.split(" ", 1)[-1] if " " in dose else dose.lstrip("0123456789.")
        med_id = str(100 + MEDS.index((med, continuous)))
        rows.append((str(e[0]), str(e[1]), med_id, med,
                     r.choice(FREQS_CONT if cont_row else FREQS_INT), str(t),
                     g.maybe_empty(dose), g.maybe_empty(unit), str(e[3]),
                     "", "", "", r.choice(["Given", "New Bag", "Rate Change"]),
                     "Inpatient", str(r.randrange(1, 99999))))
    write(out_dir, "C19_RX_ADMIN_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "medication_id", "medication_name",
           "order_med_freq", "take_med_dttm", "take_med_dose", "dose_units",
           "order_start_time", "prescript_sig", "prescript_quantity",
           "prescript_refills", "mar_action", "ordering_mode", "rxnorm_code"],
          rows, r)
    for _ in range(per_enc(RX_ORDERS_PER_ENC)):
        e, t = enc_time()
        med, continuous = MEDS[r.randrange(len(MEDS))]
        med_id = str(100 + MEDS.index((med, continuous)))
        orders.append((str(e[0]), str(e[1]), med_id, str(t),
                       str(t + r.randrange(3600, 5 * DAY)), med,
                       r.choice(FREQS_CONT if continuous else FREQS_INT),
                       g.num(0.5, 500.0), g.maybe_empty(r.choice(["mg", "mcg", "Units", "g"]))))
        outs.append((str(e[0]), str(e[1]), med_id, str(t),
                     str(t + r.randrange(3600, 5 * DAY)), med, r.choice(ROUTES),
                     g.num(1, 500)))
    write(out_dir, "C19_RX_ORDER_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "medication_id", "order_start_time",
           "order_end_time", "medication_name", "order_med_freq", "dose",
           "dose_units"], orders, r)
    write(out_dir, "C19_RX_OUT_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "MED_ID", "ORDER_START_TIME",
           "ORDER_END_TIME", "MEDICATION", "MED_ROUTE", "QUANTITY"], outs, r)

    # patient-level and encounter-level extracts
    pids = sorted({e[0] for e in encs})
    write(out_dir, "C19_PATIENT_DEMO_LDS",
          ["C19_PATIENT_ID", "race", "ethnic", "sex", "birth_date"],
          [(str(p), g.maybe_empty(r.choice(RACES)), g.maybe_empty(r.choice(ETHNICS)),
            r.choice(["Male", "Female"]), str(T0 - r.randrange(18, 95) * 365 * DAY))
           for p in pids], r)
    write(out_dir, "C19_PATIENT_ZIP_CODE_LDS", ["C19_PATIENT_ID", "zip_code"],
          [(str(p), g.maybe_empty(f"60{r.randrange(600, 700)}")) for p in pids], r)
    write(out_dir, "C19_ENC_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "record_type", "adm_date", "disc_date"],
          [(str(p), str(h), rt, str(a), str(d)) for p, h, rt, a, d in encs], r)
    write(out_dir, "C19_ENC_XTRA_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "record_type", "discharge_dispo"],
          [(str(p), str(h), rt, r.choice(DISPOS)) for p, h, rt, _, _ in encs], r)
    rows = []
    for p, h, _, _, _ in encs:
        for _ in range(r.randrange(1, 4)):
            name, code = r.choice(DX)
            rows.append((str(p), str(h), name, code,
                         g.maybe_empty(r.choice(["Y", "N", "U"]))))
    write(out_dir, "C19_DX_LDS",
          ["C19_PATIENT_ID", "C19_HAR_ID", "dx_name", "icd10_code", "poa"], rows, r)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.scale)


if __name__ == "__main__":
    main()
