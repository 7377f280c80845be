package graft.extract

import java.util.regex.Pattern
import graft.model.PyDict
import graft.text.PyText._

/** Passport extraction — semantics of reference
  * `pipeline/passport_processor.py:7-162`: label regexes with lookahead,
  * positional name fallback between the passport-number line and the
  * Sex/DOB line, per-line date harvesting with first-two-by-year ordering,
  * BENGALURU place special-cases, and MRZ last-two-line fallbacks.
  */
object PassportExtractor {
  private val givenPat = Pattern.compile(
    "(?:GIVEN\\s*NAME[S]?|GIVEN\\s*NAME\\(S\\))[\\s:]*([A-Z\\s]+?)(?=\\s+SURNAME|\\s+SEX|\\s+NATIONALITY|\\s+DATE|\\n|$)")
  private val surnamePat = Pattern.compile(
    "SURNAME[\\s:]*([A-Z\\s]+?)(?=\\s+GIVEN|\\s+NATIONALITY|\\s+DATE|\\n|$)")
  private val ppLinePat = Pattern.compile("^[A-Z][0-9]{7}$")
  private val dateGrpPat = Pattern.compile("\\b(\\d{2}[/-]\\d{2}[/-]\\d{4})\\b")
  private val dobLabelPat = Pattern.compile("DATE\\s*OF\\s*BIRTH[\\s:]*(\\d{2}[/-]\\d{2}[/-]\\d{4})")
  private val sexPat = Pattern.compile("(?:SEX|GENDER)[\\s:]*(M|F|MALE|FEMALE)")
  private val ppLabelPat = Pattern.compile("PASSPORT\\s*N[O0]\\.?[\\s:]*([A-Z][0-9]{7})")
  private val ppRawPat = Pattern.compile("\\b([A-Z][0-9]{7})\\b")
  private val mrzSexPat = Pattern.compile("\\d+([MFX])\\d+")

  def extract(rawText: String, fullTextLines: Seq[String]): PyDict = {
    val mrz = new PyDict
    val data = PyDict(
      "document_type" -> "passport",
      "country" -> "Republic of India",
      "type" -> "P",
      "country_code" -> "IND",
      "nationality" -> "INDIAN",
      "mrz" -> mrz
    )

    val textUpper = rawText.toUpperCase
    val lines = fullTextLines.map(strip).filter(_.nonEmpty).toVector

    // 1-2. Given names / surname — passport_processor.py:25-32
    reSearch(givenPat, textUpper).foreach(m => data("given_names") = strip(m.group(1)))
    reSearch(surnamePat, textUpper).foreach(m => data("surname") = strip(m.group(1)))

    // Positional name fallback — :35-54
    if (!data.truthy("surname") || !data.truthy("given_names")) {
      var ppIdx = -1
      var sexDobIdx = -1
      var i = 0
      while (i < lines.length) {
        val line = lines(i)
        if (reMatch(ppLinePat, line.toUpperCase).isDefined) {
          if (ppIdx == -1) ppIdx = i
        } else if (line.toUpperCase.contains("SEX") ||
                   reMatch(datePat_prefix, line).isDefined ||
                   line.toUpperCase.contains("BIRTH")) {
          if (ppIdx != -1 && sexDobIdx == -1) sexDobIdx = i
        }
        i += 1
      }
      if (ppIdx != -1 && sexDobIdx != -1 && (sexDobIdx - ppIdx) > 1) {
        val nameLines = lines.slice(ppIdx + 1, sexDobIdx)
        val nameParts = nameLines.map(strip).filter { n =>
          n.length > 1 && !n.toUpperCase.contains("IND") && !n.toUpperCase.contains("NATIONALITY") &&
            !n.toUpperCase.contains("BIRTH")
        }
        if (nameParts.nonEmpty && !data.truthy("surname"))
          data("surname") = nameParts(0)
        if (nameParts.length >= 2 && !data.truthy("given_names"))
          data("given_names") = nameParts.drop(1).mkString(" ")
      }
    }

    // 3. DOB — :57-61
    val dobM = reSearch(dobLabelPat, textUpper).orElse(reSearch(dateGrpPat, textUpper))
    dobM.foreach(m => data("date_of_birth") = m.group(1).replace("-", "/"))

    // 4. Sex — :64-67
    reSearch(sexPat, textUpper).foreach { m =>
      data("sex") = if (m.group(1).startsWith("M")) "M" else "F"
    }

    // Date harvesting — :70-93
    var dates = Vector.empty[String]
    for (line <- lines)
      reSearch(dateGrpPat, line).foreach(m => dates = dates :+ m.group(1).replace("-", "/"))

    data.get("date_of_birth") match {
      case Some(dob: String) if dates.contains(dob) => dates = removeFirst(dates, dob)
      case _                                        =>
    }

    if (dates.length >= 2) {
      val validDt = dates.filter(_.length == 10)
      if (validDt.length >= 2) {
        val (dp1, dp2) = (validDt(0), validDt(1))
        // :86 — compares only the first two candidate dates, by year
        if (dp1.takeRight(4).toInt < dp2.takeRight(4).toInt) {
          data("date_of_issue") = dp1
          data("date_of_expiry") = dp2
        } else {
          data("date_of_issue") = dp2
          data("date_of_expiry") = dp1
        }
      }
    }

    // Place of birth / issue — :96-103
    for (line <- lines) {
      if (line.toUpperCase.contains("BENGALURU") && !data.truthy("place_of_birth")) {
        if (line.contains("-"))
          data("place_of_birth") = line.replace("-", ", ")
        else if (!line.toLowerCase.contains("place") && line.length > 3) {
          if (!line.toUpperCase.contains("BENGALURU, KARNATAKA"))
            data("place_of_issue") = strip(line)
        }
      }
    }

    // 5. Passport number — :106-112
    reSearch(ppLabelPat, textUpper) match {
      case Some(m) => data("passport_number") = m.group(1)
      case None    => reSearch(ppRawPat, textUpper).foreach(m => data("passport_number") = m.group(1))
    }

    // 6. MRZ fallbacks — :115-156
    var mrzLines = Vector.empty[String]
    for (line <- lines) {
      val cleanLine = line.replace(" ", "")
      if (cleanLine.length >= 20 &&
          (cleanLine.contains("P<") ||
           (cleanLine.contains("IND") && !cleanLine.contains("INDIA")) ||
           cleanLine.count(_ == '<') > 2))
        mrzLines = mrzLines :+ cleanLine
    }

    if (mrzLines.nonEmpty) {
      if (mrzLines.length >= 2) {
        mrz("line1") = mrzLines(mrzLines.length - 2)
        mrz("line2") = mrzLines(mrzLines.length - 1)
      } else {
        mrz("line2") = mrzLines(0)
      }

      val mrz1 = mrz.get("line1").map(_.asInstanceOf[String]).getOrElse("")
      // :132 — key-presence (`in data`), not truthiness
      if (mrz1.contains("<") && (!data.contains("surname") || !data.contains("given_names"))) {
        if (mrz1.length >= 5) {
          val parts = splitLit(mrz1.substring(5), "<<")
          if (parts.length >= 2) {
            if (!data.contains("surname"))
              data("surname") = strip(parts(0).replace("<", " "))
            if (!data.contains("given_names"))
              data("given_names") = strip(parts(1).replace("<", " "))
          }
        }
      }

      val mrz2 = mrz.get("line2").map(_.asInstanceOf[String]).getOrElse("")
      if (!data.contains("passport_number") && mrz2.length >= 9)
        data("passport_number") = mrz2.substring(0, 9).replace("<", "")

      if (!data.contains("sex")) {
        if (mrz2.length >= 21) {
          val sexChar = mrz2.charAt(20).toString
          if (Seq("M", "F", "X").contains(sexChar)) data("sex") = sexChar
        }
        if (!data.contains("sex"))
          reSearch(mrzSexPat, mrz2).foreach(m => data("sex") = m.group(1))
      }
    }

    // full_name — :159-160
    if (data.truthy("given_names") && data.truthy("surname"))
      data("full_name") = s"${data("given_names")} ${data("surname")}"

    data
  }

  // re.match prefix-anchored date (positional fallback at :44)
  private val datePat_prefix = Pattern.compile("\\b\\d{2}[/-]\\d{2}[/-]\\d{4}\\b")
}
