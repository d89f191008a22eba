"""Run every queries() entry TWICE in one session at sf0.001; any
difference between passes = cross-query state leakage (conf leaks,
view-name collisions, scratch-dir reuse)."""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from rdbms_subsetter_spark.session import get_spark
import __spark_entry__ as m

SF = '/root/testdata/sf0.001'
spark = get_spark()
qs = m.queries()

def canon(df):
    rows = df.collect()
    def key(t):
        return tuple((v is None, str(v)) for v in t)
    return sorted((tuple(r) for r in rows), key=key)

fails = []
results = {}
for name, fn in qs.items():
    try:
        results[name] = canon(fn(spark, SF))
    except Exception as e:
        fails.append((name, 'pass1', repr(e)[:200]))
for name, fn in qs.items():
    if any(f[0] == name for f in fails):
        continue
    try:
        second = canon(fn(spark, SF))
    except Exception as e:
        fails.append((name, 'pass2', repr(e)[:200]))
        continue
    if second != results[name]:
        fails.append((name, 'mismatch', f'{len(results[name])} vs {len(second)} rows or values differ'))
print('checked', len(qs), 'entries twice;', 'FAILURES:' if fails else 'all identical across passes')
for f in fails:
    print(' ', f)
spark.stop()
sys.exit(1 if fails else 0)
