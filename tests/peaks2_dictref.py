"""The dict-based reference transcription of cFunctionalPeaks2
(functionalPeaks2.cpp:314-919): every extremum is a dict element, exactly
as the C++ keeps its linked list. `kernels.f_peaks2` is the optimized
transcription the engine runs; tests/test_peaks2_fast.py pins the two equal
on randomized inputs."""

import math

import numpy as np

from opensmile_spark.functionals.kernels import _p2_mean_ratio, _p2_unity


def f_peaks2_dictref(x, xsorted, xmin, xmax, xmean, timeNorm="frames",
                     T=1.0, relThresh=0.1, dynRelThresh=False,
                     absThreshIn=None, doRatioLimit=False):
    N = x.size
    rng = float(xmax - xmin)
    absThresh = absThreshIn if absThreshIn is not None else relThresh * rng

    def below(diff, base):
        # isBelowThresh (functionalPeaks2.cpp:291-312)
        if dynRelThresh:
            if base == 0.0:
                return diff != 0.0
            return abs(diff / base) < relThresh
        return diff < absThresh

    # step 1: all local extrema, i in [2, N-3] (functionalPeaks2.cpp:344-351)
    # — vectorized detection, then the (short) extrema list drives the
    # sequential filter passes
    ext = []  # dict(type: 1=max/0=min, x=idx, y=val, alive=True)
    if N >= 5:
        idx = np.arange(2, N - 2)
        xc = x[2:-2]
        is_max = (xc > x[1:-3]) & (xc > x[3:-1])
        is_min = (xc < x[1:-3]) & (xc < x[3:-1])
        which = is_max | is_min
        for i, t_is_max, v in zip(idx[which], is_max[which], xc[which]):
            ext.append({"t": 1 if t_is_max else 0, "x": int(i),
                        "y": float(v), "alive": True})

    def alive():
        return [e for e in ext if e["alive"]]

    # step 2a: mutual min rise/fall constraint (functionalPeaks2.cpp:355-419)
    lastVal = float(x[0])
    lastMin = float(x[0])
    lastMax = float(x[0])
    maxFlag = minFlag = 0
    lastMaxPtr = None
    for e in alive():
        if e["t"] == 1:
            if below(abs(e["y"] - lastVal), min(e["y"], lastVal)):
                if below(e["y"] - lastMin, lastMin):
                    e["alive"] = False
                else:
                    if e["y"] > lastMax * 1.05:
                        if lastMaxPtr is not None:
                            lastMaxPtr["alive"] = False
                        lastMax = e["y"]
                        lastMaxPtr = e
                    else:
                        if minFlag:
                            lastMax = e["y"]
                            lastMaxPtr = e
                        else:
                            e["alive"] = False
                    maxFlag, minFlag = 1, 0
            else:
                maxFlag, minFlag = 1, 0
                lastMax = e["y"]
                lastMaxPtr = e
        else:
            if not below(abs(e["y"] - lastVal), min(e["y"], lastVal)):
                minFlag, maxFlag = 1, 0
                lastMin = e["y"]
        lastVal = e["y"]

    # step 2b: eliminate small minima (functionalPeaks2.cpp:421-440)
    lastMax = float(x[0])
    for e in alive():
        if e["t"] == 0:
            if below(lastMax - e["y"], e["y"]):
                e["alive"] = False
        else:
            lastMax = e["y"]

    # step 3: enforce alternation (functionalPeaks2.cpp:442-510)
    lastMax = float(x[0])
    lastMin = float(x[0])
    minFlag = 0
    init = 1
    lastMinPtr = None
    lastMaxPtr = None
    for e in alive():
        if e["t"] == 0:
            if not minFlag or init:
                lastMin = e["y"]
                lastMinPtr = e
                minFlag = 1
                init = 0
            else:
                if e["y"] >= lastMin:
                    e["alive"] = False
                else:
                    if lastMinPtr is not e and lastMinPtr is not None:
                        lastMinPtr["alive"] = False
                    lastMinPtr = e
                    lastMin = e["y"]
        else:
            if minFlag or init:
                lastMax = e["y"]
                lastMaxPtr = e
                minFlag = 0
                init = 0
            else:
                if e["y"] <= lastMax:
                    e["alive"] = False
                else:
                    if lastMaxPtr is not e and lastMaxPtr is not None:
                        lastMaxPtr["alive"] = False
                    lastMaxPtr = e
                    lastMax = e["y"]

    final = alive()

    # stats pass 1 (functionalPeaks2.cpp:512-585)
    peakMax = peakMin = 0.0
    peakDist = peakDiff = 0.0
    nPeakDist = 0
    peakMean = 0.0
    nPeaks = 0
    minMax = minMin = 0.0
    minDist = minDiff = 0.0
    nMinDist = 0
    minMean = 0.0
    nMins = 0
    lastMaxPtr = None
    lastMinPtr = None
    for e in final:
        if e["t"] == 0:
            if lastMinPtr is None:
                lastMinPtr = e
                minMin = minMax = e["y"]
            else:
                nMinDist += 1
                minDist += e["x"] - lastMinPtr["x"]
                minDiff += abs(e["y"] - lastMinPtr["y"])
                minMin = min(minMin, e["y"])
                minMax = max(minMax, e["y"])
                lastMinPtr = e
            minMean += e["y"]
            nMins += 1
        else:
            if lastMaxPtr is None:
                lastMaxPtr = e
                peakMin = peakMax = e["y"]
            else:
                nPeakDist += 1
                peakDist += e["x"] - lastMaxPtr["x"]
                peakDiff += abs(e["y"] - lastMaxPtr["y"])
                peakMin = min(peakMin, e["y"])
                peakMax = max(peakMax, e["y"])
                lastMaxPtr = e
            peakMean += e["y"]
            nPeaks += 1

    if nPeaks > 1:
        peakMean /= nPeaks
        if nPeakDist > 1:
            peakDist /= nPeakDist
            peakDiff /= nPeakDist
    if nMins > 0:
        minMean /= nMins
        if nMinDist > 1:
            minDist /= nMinDist
            minDiff /= nMinDist

    # stats pass 2: stddevs. NOTE the reference's max-branch uses lastMinPtr
    # for both dist & diff (functionalPeaks2.cpp:592-601) — replicated.
    peakStddevDist = peakStddevDiff = 0.0
    minStddevDist = minStddevDiff = 0.0
    lastMaxPtr = None
    lastMinPtr = None
    for e in final:
        if e["t"] == 0:
            if lastMinPtr is None:
                lastMinPtr = e
            else:
                minStddevDist += (e["x"] - lastMinPtr["x"] - minDist) ** 2
                minStddevDiff += (abs(e["y"] - lastMinPtr["y"]) - minDiff) ** 2
                lastMinPtr = e
        else:
            if lastMaxPtr is None:
                lastMaxPtr = e
            else:
                ref = lastMinPtr if lastMinPtr is not None else lastMaxPtr
                peakStddevDist += (e["x"] - ref["x"] - peakDist) ** 2
                peakStddevDiff += (abs(e["y"] - ref["y"]) - peakDiff) ** 2
                lastMaxPtr = e
    if nPeakDist > 1:
        peakStddevDist /= nPeakDist
        peakStddevDiff /= nPeakDist
    peakStddevDist = math.sqrt(peakStddevDist) if peakStddevDist > 0 else 0.0
    peakStddevDiff = math.sqrt(peakStddevDiff) if peakStddevDiff > 0 else 0.0
    if nMinDist > 1:
        minStddevDist /= nMinDist
        minStddevDiff /= nMinDist
    minStddevDist = math.sqrt(minStddevDist) if minStddevDist > 0 else 0.0
    minStddevDiff = math.sqrt(minStddevDiff) if minStddevDiff > 0 else 0.0

    # slopes (functionalPeaks2.cpp:631-760)
    meanRS = meanFS = 0.0
    nRising = nFalling = 0
    minRS = maxRS = minFS = maxFS = 0.0
    lastIsMax = -1
    lastMaxV = float(x[0])
    lastMaxPos = 0
    lastMinV = float(x[0])
    lastMinPos = 0
    for e in final:
        if e["t"] == 0:
            lastMinV, lastMinPos = e["y"], e["x"]
            if lastMinPos - lastMaxPos > 0:
                slope = (lastMaxV - lastMinV) / ((lastMinPos - lastMaxPos) * T)
                meanFS += slope
                if nFalling == 0:
                    minFS = maxFS = slope
                else:
                    minFS = min(minFS, slope)
                    maxFS = max(maxFS, slope)
                nFalling += 1
                lastIsMax = 0
        else:
            lastMaxV, lastMaxPos = e["y"], e["x"]
            if lastMaxPos - lastMinPos > 0:
                slope = (lastMaxV - lastMinV) / ((lastMaxPos - lastMinPos) * T)
                meanRS += slope
                if nRising == 0:
                    minRS = maxRS = slope
                else:
                    minRS = min(minRS, slope)
                    maxRS = max(maxRS, slope)
                nRising += 1
                lastIsMax = 1

    if lastIsMax == 1:
        if N - 1 - lastMaxPos > 0:
            slope = (x[N - 1] - lastMaxV) / ((N - 1 - lastMaxPos) * T)
            meanFS += slope
            if nFalling == 0:
                minFS = maxFS = slope
            else:
                minFS = min(minFS, slope)
                maxFS = max(maxFS, slope)
            nFalling += 1
    elif lastIsMax == 0:
        if N - 1 - lastMinPos > 0:
            slope = (x[N - 1] - lastMinV) / ((N - 1 - lastMinPos) * T)
            meanRS += slope
            if nRising == 0:
                minRS = maxRS = slope
            else:
                minRS = min(minRS, slope)
                maxRS = max(maxRS, slope)
            nRising += 1
    else:
        slope = (x[N - 1] - x[0]) / N
        if slope > 0:
            meanRS = maxRS = minRS = slope
            nRising = 1
        elif slope < 0:
            meanFS = maxFS = minFS = slope
            nFalling = 1

    if nRising > 1:
        meanRS /= nRising
    if nFalling > 1:
        meanFS /= nFalling

    stddevRS = stddevFS = 0.0
    lastMaxV = float(x[0])
    lastMaxPos = 0
    lastMinV = float(x[0])
    lastMinPos = 0
    for e in final:
        if e["t"] == 0:
            lastMinV, lastMinPos = e["y"], e["x"]
            if lastMinPos - lastMaxPos > 0:
                slope = (lastMaxV - lastMinV) / ((lastMinPos - lastMaxPos) * T)
                stddevFS += (slope - meanFS) ** 2
        else:
            lastMaxV, lastMaxPos = e["y"], e["x"]
            if lastMaxPos - lastMinPos:
                slope = (lastMaxV - lastMinV) / ((lastMaxPos - lastMinPos) * T)
                stddevRS += (slope - meanRS) ** 2
    if nRising > 1:
        stddevRS /= nRising
    if nFalling > 1:
        stddevFS /= nFalling
    stddevRS = math.sqrt(stddevRS) if stddevRS > 0 else 0.0
    stddevFS = math.sqrt(stddevFS) if stddevFS > 0 else 0.0

    # time normalisation of dists (functionalPeaks2.cpp:762-775)
    if timeNorm == "second":
        peakDist *= T
        peakStddevDist *= T
        minDist *= T
        minStddevDist *= T
    elif timeNorm == "segment":
        peakDist /= N
        peakStddevDist /= N
        minDist /= N
        minStddevDist /= N

    numPeaks = (nPeaks / (N * T)) if timeNorm == "second" else float(nPeaks)

    return {
        "numPeaks": numPeaks,
        "meanPeakDist": peakDist,
        "peakDistStddev": peakStddevDist,
        "peakRangeAbs": peakMax - peakMin,
        "peakRangeRel": (_p2_unity(abs((peakMax - peakMin) / rng),
                                   doRatioLimit) if rng != 0.0
                         else peakMax - peakMin),
        "peakMean": peakMean,
        "peakMeanMeanDist": peakMean - float(xmean),
        "peakMeanMeanRatio": _p2_mean_ratio(peakMean, float(xmean),
                                            doRatioLimit),
        "ptpAmpMeanAbs": peakDiff,
        "ptpAmpMeanRel": (_p2_unity(peakDiff / rng, doRatioLimit)
                          if rng != 0.0 else peakDiff),
        "ptpAmpStddevAbs": peakStddevDiff,
        "ptpAmpStddevRel": (_p2_unity(peakStddevDiff / rng, doRatioLimit)
                            if rng != 0.0 else peakStddevDiff),
        "minRangeAbs": minMax - minMin,
        "minRangeRel": (_p2_unity(abs((minMax - minMin) / rng),
                                  doRatioLimit) if rng != 0.0
                        else minMax - minMin),
        "minMean": minMean,
        "minMeanMeanDist": float(xmean) - minMean,
        "minMeanMeanRatio": _p2_mean_ratio(minMean, float(xmean),
                                           doRatioLimit),
        "mtmAmpMeanAbs": minDiff,
        "mtmAmpMeanRel": (_p2_unity(minDiff / rng, doRatioLimit)
                          if rng != 0.0 else minDiff),
        "mtmAmpStddevAbs": minStddevDiff,
        "mtmAmpStddevRel": (_p2_unity(minStddevDiff / rng, doRatioLimit)
                            if rng != 0.0 else minStddevDiff),
        "meanRisingSlope": meanRS,
        "maxRisingSlope": maxRS,
        "minRisingSlope": minRS,
        "stddevRisingSlope": stddevRS,
        "meanFallingSlope": meanFS,
        "maxFallingSlope": maxFS,
        "minFallingSlope": minFS,
        "stddevFallingSlope": stddevFS,
        "covFallingSlope": (stddevFS / meanFS) if meanFS > 0.0 else 0.0,
        "covRisingSlope": (stddevRS / meanRS) if meanRS > 0.0 else 0.0,
    }
