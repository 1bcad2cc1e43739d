import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]
# the Spark tests' Python workers import nemo_spark too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [os.path.dirname(BENCH), os.environ.get("PYTHONPATH")]))
