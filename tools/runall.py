import os, sys, time, difflib
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from trek_spark.extract.pipeline import trek_parse
from trek_spark.fixtures import load_fixtures, metadata_field_ok
fixtures = load_fixtures()
t0=time.time(); exact=0; meta_ok=0; total=0; near=[]
for fx in fixtures:
    if fx.expected_markdown is None: continue
    total += 1
    try: r = trek_parse(fx.html, fx.url)
    except Exception as e:
        print("ERR", fx.name, repr(e)[:120]); near.append((0.0, fx.name)); continue
    act = (r["content_markdown"] or "").strip(); exp = fx.expected_markdown.strip()
    if act == exp: exact += 1
    else: near.append((round(difflib.SequenceMatcher(None, exp, act).quick_ratio(),3), fx.name))
    if fx.expected_meta:
        meta_ok += all(metadata_field_ok(r.get(f,"") or "", fx.expected_meta.get(f,"") or "") for f in ("title","author","site","published"))
    else: meta_ok += 1
el=time.time()-t0
print(f"exact {exact}/{total}  meta {meta_ok}/{total}  {el:.1f}s")
near.sort(reverse=True)
for r,n in near[:int(sys.argv[1]) if len(sys.argv)>1 else 20]: print(r,n)
