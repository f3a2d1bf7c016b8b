#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""Seeded generator of the bronze `Notes` table and its change batches.

Every note text is built from segments whose kind is known: filler
words, PII (a person, a city, an email, a phone number, a date) and
clinical terms. From those positions alone the generator derives what
the pipeline must produce:

- the redacted silver text (each PII segment becomes `<LABEL>`);
- the gold entities (each clinical term, with its category, offset and
  length in the redacted text);
- the live key set after every batch.

Filler words match no recogniser and no vocabulary term, not even as a
substring, so every expected value follows from the segment plan.
"""
import datetime
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Names and cities from graft.functions.Ner's gazetteers.
GIVEN = ["james", "john", "robert", "michael", "william", "david", "sarah",
         "karen", "emily", "olivia", "oliver", "harry", "grace", "hannah",
         "lucy", "peter", "samuel", "victoria", "thomas", "alice"]
SURNAMES = ["smith", "jones", "taylor", "brown", "wilson", "evans", "walker",
            "roberts", "clark", "garcia", "miller", "davis", "moore",
            "baker", "turner", "parker", "collins", "morgan", "cooper",
            "bailey"]
CITIES = ["london", "paris", "berlin", "madrid", "dublin", "vienna", "oslo",
          "cairo", "sydney", "tokyo", "toronto", "chicago", "boston",
          "manchester", "leeds", "glasgow", "cardiff", "bristol", "oxford",
          "cambridge"]
# Terms from graft.functions.HealthAnnotator's vocabulary. Words that
# graft.functions.Ner also redacts as dates ("today", "this morning")
# are left out: they never reach gold.
TERMS = [("headache", "SymptomOrSign"), ("nausea", "SymptomOrSign"),
         ("fatigue", "SymptomOrSign"), ("dizziness", "SymptomOrSign"),
         ("cough", "SymptomOrSign"), ("anxiety", "SymptomOrSign"),
         ("insomnia", "SymptomOrSign"), ("tremor", "SymptomOrSign"),
         ("fluid intake", "SymptomOrSign"),
         ("paracetamol", "MedicationName"), ("ibuprofen", "MedicationName"),
         ("metformin", "MedicationName"), ("sertraline", "MedicationName"),
         ("diazepam", "MedicationName"), ("insulin", "MedicationName"),
         ("last night", "Time"),
         ("slightly", "ConditionQualifier"), ("severe", "ConditionQualifier"),
         ("mild", "ConditionQualifier"), ("chronic", "ConditionQualifier"),
         ("diabetes", "Diagnosis"), ("hypertension", "Diagnosis"),
         ("asthma", "Diagnosis"), ("depression", "Diagnosis"),
         ("migraine", "Diagnosis")]
# Every vocabulary term, used to prove the filler is inert.
ALL_TERMS = [t for t, _ in TERMS] + [
    "delusional beliefs", "distracted", "brittle", "fever", "pain",
    "aspirin", "this afternoon", "this morning", "this evening",
    "yesterday", "today", "moderate", "acute"]
FILLER = ["patient", "reports", "feeling", "reviewed", "in", "clinic",
          "follow", "up", "plan", "discussed", "with", "family", "advised",
          "rest", "and", "fluids", "return", "if", "worse", "was", "seen",
          "by", "team", "on", "ward", "for", "assessment", "referred",
          "to", "notes", "stable", "overall", "sleeping", "poorly",
          "eating", "well", "walks", "daily", "reviewed", "bloods",
          "normal", "repeat", "checked", "observations", "calm", "alert",
          "mood", "low", "good", "support", "at", "home", "carer", "visit",
          "booked", "letter", "sent", "dose", "changed", "continue",
          "current", "regime", "no", "new", "concerns", "raised"]
LABELS = ["<PERSON>", "<LOCATION>", "<EMAIL_ADDRESS>", "<PHONE_NUMBER>",
          "<DATE_TIME>"]
TEXT_POOL = 4096
DATE_WORDS = ["today", "tomorrow", "yesterday", "tonight", "this", "next",
              "last"]


def _check_inert():
    for w in FILLER + [lbl.lower() for lbl in LABELS]:
        for t in ALL_TERMS:
            assert t not in w, (w, t)
        assert w not in DATE_WORDS, w
    for t, _ in TERMS:
        for u in ALL_TERMS:
            assert t == u or u not in t, (t, u)
        for w in FILLER:
            # a term must not run into the filler that follows it
            for u in ALL_TERMS:
                assert u not in (t + " " + w) or u == t or u in t, (t, w, u)


_check_inert()


def _pii(rng):
    kind = rng.randrange(5)
    if kind == 0:
        return (rng.choice(GIVEN).capitalize() + " " +
                rng.choice(SURNAMES).capitalize()), "<PERSON>"
    if kind == 1:
        return rng.choice(CITIES).capitalize(), "<LOCATION>"
    if kind == 2:
        return (f"{rng.choice(FILLER[:20])}{rng.randrange(10, 99)}"
                f"@{rng.choice(['mail', 'post', 'inbox'])}.org",
                "<EMAIL_ADDRESS>")
    if kind == 3:
        return (f"0{rng.randrange(10, 99)} {rng.randrange(1000, 9999)} "
                f"{rng.randrange(1000, 9999)}", "<PHONE_NUMBER>")
    return (f"20{rng.randrange(10, 24)}-{rng.randrange(1, 13):02d}-"
            f"{rng.randrange(1, 29):02d}", "<DATE_TIME>")


def make_note(rng, words):
    """One note text: (raw, redacted, entities)."""
    segs = []  # (raw, redacted, category or None)
    fill = rng.choices(FILLER, k=words)
    while len(segs) < words:
        segs.extend((w, w, None) for w in fill[len(segs):len(segs) + 3])
        r = rng.random()
        if r < 0.35:
            raw, lbl = _pii(rng)
            segs.append((raw, lbl, None))
        elif r < 0.8:
            t, cat = TERMS[int(r * 1000) % len(TERMS)]
            segs.append((t, t, cat))
    raw_parts, red_parts, entities, pos = [], [], [], 0
    for raw, red, cat in segs:
        if cat is not None:
            entities.append((red, cat, pos, len(red)))
        raw_parts.append(raw)
        red_parts.append(red)
        pos += len(red) + 1
    return " ".join(raw_parts), " ".join(red_parts), entities


def generate(seed, backfill, warmup_batches, batches, inserts, deletes,
             words):
    """Build the backfill, the warm-up batches and the timed batches.

    Returns (notes table, batch plan, expected table). Batch b inserts
    `inserts` new keys and deletes `deletes` distinct live keys, so
    every batch has the same shape and size.
    """
    rng = random.Random(seed)
    # notes draw their texts from a seeded pool; keys, patients, users
    # and dates are drawn per note
    pool = [make_note(rng, rng.randrange(words // 2, words * 3 // 2))
            for _ in range(TEXT_POOL)]
    base = datetime.datetime(2024, 1, 1)
    cols = {k: [] for k in ["NoteID", "PatientID", "NoteText", "UserID",
                            "AppointmentDate", "batch"]}
    exp = {k: [] for k in ["NoteID", "silver_text", "ent_text",
                           "ent_category", "ent_offset", "ent_length"]}
    next_id = [1]

    def new_note(batch):
        nid = next_id[0]
        next_id[0] += 1
        raw, red, ents = pool[rng.randrange(TEXT_POOL)]
        cols["NoteID"].append(nid)
        cols["PatientID"].append(f"P{rng.randrange(10**6, 10**7)}")
        cols["NoteText"].append(raw)
        cols["UserID"].append(f"U{rng.randrange(1000, 9999)}")
        cols["AppointmentDate"].append(
            base + datetime.timedelta(seconds=rng.randrange(0, 365 * 86400)))
        cols["batch"].append(batch)
        exp["NoteID"].append(nid)
        exp["silver_text"].append(red)
        exp["ent_text"].append([e[0] for e in ents])
        exp["ent_category"].append([e[1] for e in ents])
        exp["ent_offset"].append([e[2] for e in ents])
        exp["ent_length"].append([e[3] for e in ents])
        return nid

    live = [new_note(-1) for _ in range(backfill)]
    plan = []
    for b in range(warmup_batches + batches):
        # deletes come from keys live before this batch, inserts are new
        idx = sorted(rng.sample(range(len(live)), deletes))
        dels = [live[i] for i in idx]
        gone = set(idx)
        live = [k for i, k in enumerate(live) if i not in gone]
        ins = [new_note(b) for _ in range(inserts)]
        live.extend(ins)
        plan.append({"batch": b, "warmup": b < warmup_batches,
                     "inserts": ins, "deletes": dels,
                     "lookup": live[rng.randrange(len(live))]})
    notes = pa.table({
        "NoteID": pa.array(cols["NoteID"], pa.int64()),
        "PatientID": pa.array(cols["PatientID"], pa.string()),
        "NoteText": pa.array(cols["NoteText"], pa.string()),
        "UserID": pa.array(cols["UserID"], pa.string()),
        "AppointmentDate": pa.array(cols["AppointmentDate"],
                                    pa.timestamp("us", tz="UTC")),
        "batch": pa.array(cols["batch"], pa.int32())})
    expected = pa.table({
        "NoteID": pa.array(exp["NoteID"], pa.int64()),
        "silver_text": pa.array(exp["silver_text"], pa.string()),
        "ent_text": pa.array(exp["ent_text"], pa.list_(pa.string())),
        "ent_category": pa.array(exp["ent_category"], pa.list_(pa.string())),
        "ent_offset": pa.array(exp["ent_offset"], pa.list_(pa.int32())),
        "ent_length": pa.array(exp["ent_length"], pa.list_(pa.int32()))})
    return notes, plan, expected


def write(out_dir, seed, **shape):
    notes, plan, expected = generate(seed, **shape)
    pq.write_table(notes, f"{out_dir}/notes.parquet")
    pq.write_table(expected, f"{out_dir}/expected.parquet")
    return plan
